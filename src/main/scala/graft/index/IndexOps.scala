package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.sources.InputFragment
import graft.taxa.{LcaResolver, Taxonomy}

/** Index statistics, re-spacing, and the SQL (report-only) classification
  * path (spec: reference KeyValueIndex stats/respace + SQLClassifier,
  * Classifier.scala:254-410).
  */
object IndexOps {

  /** Distinct minimizers per taxon (spec: A5, KeyValueIndex.scala:220-229). */
  def minimizersPerTaxon(records: DataFrame): DataFrame =
    records.groupBy(col("taxon"))
      .agg(count(lit(1)).cast("long").as("n_minimizers"))

  /** [[minimizersPerTaxon]] with on-disk memoization beside the index
    * (spec: reference KeyValueIndex.scala:220-234 — the counts scan over a
    * multi-TB index is worth computing once): the first call writes
    * `<indexPath>/_taxon_counts`, later calls read it back. */
  def minimizersPerTaxonMemo(records: DataFrame, indexPath: String): DataFrame = {
    val spark = records.sparkSession
    val path = new org.apache.hadoop.fs.Path(indexPath, "_taxon_counts")
    val tmp = new org.apache.hadoop.fs.Path(indexPath, "_taxon_counts.tmp")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) {
      // write-then-rename: a crashed run leaves only the tmp dir, so the
      // memo directory, when present, is always complete — independent of
      // whether the committer writes _SUCCESS markers
      minimizersPerTaxon(records).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(tmp, path)) fs.delete(tmp, true) // lost a concurrent race
    }
    spark.read.parquet(path.toString)
  }

  /** Taxonomic-depth histogram of index records (spec: A10). The depth
    * lookup is a broadcast-array access wrapped as a UDF (2-3M entries —
    * far too big for a literal CASE, too small to justify a join). */
  def depthHistogram(records: DataFrame, bcTax: Broadcast[Taxonomy]): DataFrame = {
    val depthUdf = udf((t: Int) => {
      val tax = bcTax.value
      if (tax.isDefined(t)) tax.depths(t) else -1
    })
    records.select(depthUdf(col("taxon")).as("depth"))
      .groupBy(col("depth")).agg(count(lit(1)).cast("long").as("n_minimizers"))
      .orderBy(col("depth"))
  }

  /** Per-rank record counts (how specific is the index?). */
  def rankHistogram(records: DataFrame, bcTax: Broadcast[Taxonomy]): DataFrame = {
    val rankUdf = udf((t: Int) => {
      val tax = bcTax.value
      if (tax.isDefined(t)) tax.rankName(t) else "invalid"
    })
    records.select(rankUdf(col("taxon")).as("rank"))
      .groupBy(col("rank")).agg(count(lit(1)).cast("long").as("n_minimizers"))
      .orderBy(col("rank"))
  }

  /** Re-space an index to a wider spaced-seed mask without rescanning the
    * library: widening only clears additional minimizer positions, so it is
    * a pure column expression (bitwise AND per key word) + LCA
    * re-aggregation (spec: P11/A1 respace variant,
    * KeyValueIndex.scala:368-379). Width-generic like [[respaceSpans]]:
    * [[graft.kmers.WidePriority.spaceKeepMasks]] yields one untruncated
    * keep mask per populated key word (leading word first). The all-ones
    * base matters: bits above the populated priority range are zero in
    * plain keys but carry the frequency-ordering DEMOTE flag in
    * frequency-ordered indexes — clearing them would desync the keys from
    * classify-time span priorities. */
  def respace(records: DataFrame, params: IndexParams, newSpaces: Int,
      bcTax: Broadcast[Taxonomy]): DataFrame = {
    require(newSpaces >= params.spaces,
      s"can only widen spacing (${params.spaces} -> $newSpaces)")
    val masks = graft.kmers.WidePriority.spaceKeepMasks(params.m, newSpaces)
    val lcaAgg = udaf(graft.taxa.TaxonLcaAggregator(bcTax))
    val keyed = masks.indices.map(w =>
      col(s"id${w + 1}").bitwiseAND(lit(masks(w))).as(s"id${w + 1}"))
    records
      .select(keyed :+ col("taxon"): _*)
      .groupBy(masks.indices.map(w => col(s"id${w + 1}")): _*)
      .agg(lcaAgg(col("taxon")).as("taxon"))
  }

  /** Widen span keys to match a respaced index: span priorities already have
    * the original spacing applied, so ANDing with the wider per-word keep
    * masks makes the join keys consistent with [[respace]]d records —
    * classification against a respaced index without re-extracting spans.
    * Width-generic over [[KeyedOrdinalSpan]]: [[graft.kmers.WidePriority
    * .spaceKeepMasks]] yields one untruncated keep mask per populated key
    * word (leading word first — the all-ones base preserves an in-band
    * frequency DEMOTE flag at every width); words above the index width
    * keep an all-ones mask, matching the span padding of 0. */
  def respaceSpans(spans: Dataset[KeyedOrdinalSpan], params: IndexParams,
      newSpaces: Int): Dataset[KeyedOrdinalSpan] = {
    require(newSpaces >= params.spaces,
      s"can only widen spacing (${params.spaces} -> $newSpaces)")
    val masks = graft.kmers.WidePriority.spaceKeepMasks(params.m, newSpaces)
    val m1 = masks(0)
    val m2 = if (masks.length > 1) masks(1) else -1L
    val m3 = if (masks.length > 2) masks(2) else -1L
    val m4 = if (masks.length > 3) masks(3) else -1L
    val spark = spans.sparkSession
    import spark.implicits._
    spans.map(s => s.copy(id1 = s.id1 & m1, id2 = s.id2 & m2,
      id3 = s.id3 & m3, id4 = s.id4 & m4))
  }

  /** Merge two LCA-record frames of indexes built with IDENTICAL scan
    * parameters (k, m, spacing, ordering/demotion — the caller gates this;
    * different parameters give incomparable keys): union + per-key LCA
    * re-fold. Exact, because the record LCA is associative, commutative
    * and idempotent over leaf contributions — lca(fold(A), fold(B)) per
    * key equals fold(A ∪ B) per key, which is what makes incremental
    * library growth sound WITHOUT re-scanning the existing library (at
    * 100 TB, re-deriving the whole index to add a batch of genomes is the
    * wrong plan; this is one shuffle over records, and the new batch alone
    * pays a scan). Width-generic: pass the index's [[KeyedIndex.keyCols]].
    * Property-proven: merge(build(A), build(B)) == build(A ∪ B) at every
    * key width (IndexOpsSpec). */
  def mergeIndexes(a: DataFrame, b: DataFrame, bcTax: Broadcast[Taxonomy],
      keyCols: Seq[String]): DataFrame = {
    val spark = a.sparkSession
    val lcaName = graft.taxa.LcaAggregate.register(spark, bcTax)
    a.select((keyCols :+ "taxon").map(col): _*)
      .unionByName(b.select((keyCols :+ "taxon").map(col): _*))
      .groupBy(keyCols.map(col): _*)
      .agg(graft.taxa.LcaAggregate.lcaAgg(lcaName, col("taxon")).as("taxon"))
  }

  /** Genomes that contributed no minimizers to the index (quality check;
    * spec: A12/A13, KeyValueIndex.scala:56-76): distinct library minimizers
    * anti-joined against records. Width-generic over [[KeyedIndex]]. */
  def missingGenomes(index: KeyedIndex, library: Dataset[(Int, String)],
      records: DataFrame): DataFrame = {
    val spark = library.sparkSession
    import spark.implicits._
    val keys = index.keyCols
    val k = index.kOf
    val narrow = keys.size == 1
    val libMins = library.flatMap { case (taxon, seq) =>
      // narrow path keeps the zero-boxing LongMap dedup (one entry per
      // supermer over the whole library — a tuple per entry would box twice)
      if (narrow) {
        val set = scala.collection.mutable.LongMap.empty[Unit]
        graft.kmers.SupermerScanner.splitByAmbiguity(seq).foreach { run =>
          if (run.valid && run.seq.length >= k)
            index.scanKeyed(run.seq).foreach(sm => set(sm.k1) = ())
        }
        set.keysIterator.map(a => (taxon, a, 0L, 0L, 0L))
      } else {
        val set = scala.collection.mutable.HashSet.empty[(Long, Long, Long, Long)]
        graft.kmers.SupermerScanner.splitByAmbiguity(seq).foreach { run =>
          if (run.valid && run.seq.length >= k)
            index.scanKeyed(run.seq).foreach(sm =>
              set += ((sm.k1, sm.k2, sm.k3, sm.k4)))
        }
        set.iterator.map { case (a, b, c, d) => (taxon, a, b, c, d) }
      }
    }.toDF("taxon", "id1", "id2", "id3", "id4")
    val left = libMins.drop(Seq("id2", "id3", "id4").drop(keys.size - 1): _*)
    left.join(records.select(keys.map(col): _*), keys, "left_anti")
      .groupBy($"taxon").agg(count(lit(1)).cast("long").as("n_missing"))
  }

  /** Index-to-index comparison: how did each minimizer's LCA migrate between
    * two indexes (e.g. before/after a respace or a dynamic rebuild)?
    * Null-safe full outer join on the key (any width — pass the index's
    * [[KeyedIndex.keyCols]]); counts per (depth delta) bucket
    * (spec: J7, analysis/MinimizerMigration.scala:44-71). */
  def compareIndexes(a: DataFrame, b: DataFrame,
      bcTax: Broadcast[Taxonomy], keyCols: Seq[String]): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val depthUdf = udf((t: Int) => {
      val tax = bcTax.value
      if (tax.isDefined(t)) tax.depths(t) else -1
    })
    val left = a.select(keyCols.map(col) :+ col("taxon").as("taxon_a"): _*)
    val right = b.select(keyCols.map(col) :+ col("taxon").as("taxon_b"): _*)
    left.join(right,
        keyCols.map(kc => left(kc) <=> right(kc)).reduce(_ && _), "full_outer")
      .select(
        coalesce(col("taxon_a"), lit(Taxonomy.NONE)).as("taxon_a"),
        coalesce(col("taxon_b"), lit(Taxonomy.NONE)).as("taxon_b"))
      .withColumn("steps",
        depthUdf(col("taxon_b")) - depthUdf(col("taxon_a")))
      .groupBy(col("steps")).agg(count(lit(1)).cast("long").as("n_minimizers"))
      .orderBy(col("steps"))
  }

  /** Reference-semantics migration pairs (spec: MinimizerMigration
    * .scala:44-71): MATCHED minimizers only (inner null-safe key join),
    * steps = rank-ladder depth in the subject `a` minus depth in the
    * reference `b` — how many rank levels each record moved UP the tree in
    * the fuller index. Sentinels follow the reference: −100 for an
    * undefined subject depth, −200 for an undefined reference depth.
    * [[compareIndexes]] stays the richer full-outer diagnostic (it also
    * counts minimizers present on one side only); this one exists so
    * `compareIndex` output is comparable 1:1 with the reference command. */
  def migrationPairs(a: DataFrame, b: DataFrame,
      bcTax: Broadcast[Taxonomy], keyCols: Seq[String]): DataFrame = {
    val depthUdf = udf((t: Int) => bcTax.value.rankDepth(t))
    val left = a.select(keyCols.map(col) :+ col("taxon").as("taxon_a"): _*)
    val right = b.select(keyCols.map(col) :+ col("taxon").as("taxon_b"): _*)
    left.join(right,
        keyCols.map(kc => left(kc) <=> right(kc)).reduce(_ && _))
      .select(col("taxon_a"), col("taxon_b"),
        depthUdf(col("taxon_a")).as("d_a"), depthUdf(col("taxon_b")).as("d_b"))
      .select(col("taxon_a"), col("taxon_b"),
        when(col("d_a") === -1, lit(-100))
          .when(col("d_b") === -1, lit(-200))
          .otherwise(col("d_a") - col("d_b")).as("steps"))
  }

  /** Numeric summary (count/mean/stddev/min/quartiles/max) of per-taxon
    * record counts — index balance at a glance (spec: A14,
    * IndexStatistics.scala:79 `.summary()`). */
  def coverageSummary(records: DataFrame): DataFrame =
    minimizersPerTaxon(records).select(col("n_minimizers").cast("double")).summary()

  /** Report-only classification: the SQL path that trades per-read hit order
    * for a cheaper two-level aggregation (no ordinal sort, no big structs;
    * spec: A3/SQLClassifier design note in SURVEY §2.10). Returns per-taxon
    * read counts directly. */
  def classifyReport(index: KeyedIndex, spans: Dataset[KeyedOrdinalSpan],
      records: DataFrame, confidence: Double = 0.0, minHitGroups: Int = 2)
      : DataFrame = {
    val spark = spans.sparkSession
    import spark.implicits._
    import graft.taxa.Sentinels._
    val bc = index.taxonomyOf

    // level 1: per (read, taxon) k-mer totals — much smaller than per-span.
    // Join on the index's FULL key (keyCols, not id1 alone): at m > 32 the
    // minimizer spans several words and an id1-only join would cross-match
    // spans with records that share only the leading word.
    val perTaxon = spans.join(records, index.keyCols, "left")
      .select($"title",
        when($"flag" === AMBIGUOUS_FLAG, lit(AMBIGUOUS_SPAN))
          .when($"flag" === MATE_PAIR_BORDER_FLAG, lit(MATE_PAIR_BORDER))
          .otherwise(coalesce($"taxon", lit(Taxonomy.NONE))).as("taxon"),
        $"kmers", $"distinct")
      .groupBy($"title", $"taxon")
      .agg(sum($"kmers").cast("int").as("kmers"),
        sum(when($"distinct" && $"taxon" > 0, 1).otherwise(0)).as("groups"))

    // level 2: per read — taxa counts as parallel PRIMITIVE arrays from ONE
    // native aggregate (CollectAligned), not an array<struct>: the struct
    // decoder boxes both fields per element, which is exactly the shape the
    // r16 bracken head-to-head measured as a 170 s hotspot at its 64x tier.
    // One aggregate makes the alignment structural — r16's parallel
    // collect_list pair relied on Spark's undocumented cross-aggregate
    // row-order behavior (then pinned by ParallelCollectAlignmentSpec).
    val hitsFn = graft.functions.CollectAligned.register(spark,
      Seq("taxa", "kmerCounts"))
    val perRead = perTaxon
      .groupBy($"title")
      .agg(graft.functions.CollectAligned(hitsFn, $"taxon", $"kmers").as("hits"),
        sum($"groups").cast("int").as("hitGroups"))
      .select($"hits.taxa".as("taxa"), $"hits.kmerCounts".as("kmerCounts"),
        $"hitGroups")
      .as[(Array[Int], Array[Int], Int)]

    perRead.mapPartitions { it =>
      // one resolver (and its internal hash table) per task, not per read —
      // mirrors the typed path (ClassifyKernel); per-row allocation here was
      // the round-3 weak spot in the path marketed as the cheap plan
      val resolver = new LcaResolver(bc.value)
      it.map { case (taxa, kmerCounts, hitGroups) =>
        if (hitGroups < minHitGroups) Taxonomy.NONE
        else {
          val pairs = new Array[(Int, Int)](taxa.length)
          var i = 0
          while (i < taxa.length) { pairs(i) = (taxa(i), kmerCounts(i)); i += 1 }
          resolver.classify(scala.collection.immutable.ArraySeq.unsafeWrapArray(pairs),
            confidence)
        }
      }
    }.toDF("taxon")
      .groupBy($"taxon").agg(count(lit(1)).cast("long").as("n_reads"))
  }

  /** Multi-sample classification: extract a sample id from read titles by
    * regex; per-(sample, taxon) report counts in one aggregation
    * (spec: P4 + A4, Classifier.scala:297-301,396-399). */
  def classifyMultiSample(index: KeyedIndex, reads: Dataset[InputFragment],
      records: DataFrame, sampleRegex: String, confidence: Double = 0.0,
      minHitGroups: Int = 2): DataFrame = {
    val spark = reads.sparkSession
    import spark.implicits._
    // count-only contract: per-(sample, taxon) totals — skip the per-read
    // hit-string build (r21, guide §1.2: don't compute what is discarded)
    val classified = index.classifyDF(index.spansDF(reads), records,
      confidence, minHitGroups, detail = false)
    classified
      .withColumn("sample",
        coalesce(nullif(regexp_extract($"title", sampleRegex, 1), lit("")),
          lit("other")))
      .groupBy($"sample", $"taxon")
      .agg(count(lit(1)).cast("long").as("n_reads"))
  }

  /** Per-sample Kraken report files: `<outDir>/<sample>.kreport.txt` for
    * each sample extracted from read titles (spec: reference
    * Classifier.scala:229-251). Counting is fully distributed — only the
    * (sample, taxon, count) triples reach the driver, where each sample's
    * clade tree renders locally. */
  def writePerSampleReports(classified: Dataset[ClassifiedRead],
      sampleRegex: String, outDir: String, bcTax: Broadcast[Taxonomy]): Unit = {
    val spark = classified.sparkSession
    import spark.implicits._
    val counts = classified
      .withColumn("sample",
        coalesce(nullif(regexp_extract($"title", sampleRegex, 1), lit("")),
          lit("other")))
      .groupBy($"sample", $"taxon")
      .agg(count(lit(1)).as("cnt"))
      .as[(String, Int, Long)]
      .collect()
    val conf = spark.sparkContext.hadoopConfiguration
    for ((sample, group) <- counts.groupBy(_._1)) {
      val rep = new KrakenReport(bcTax.value, group.map(g => (g._2, g._3)))
      val p = new org.apache.hadoop.fs.Path(outDir, s"$sample.kreport.txt")
      val fs = p.getFileSystem(conf)
      val out = fs.create(p, true)
      try out.write((rep.render + "\n").getBytes("UTF-8")) finally out.close()
    }
  }

  /** Per-read output sink: gzip text partitioned by sample, bounded file
    * count (spec: S12, Classifier.scala:199-210). */
  def writePerSampleOutput(classified: Dataset[ClassifiedRead],
      sampleRegex: Option[String], path: String,
      maxPartitions: Int = 1000): Unit = {
    val spark = classified.sparkSession
    import spark.implicits._
    // No regex = single-sample mode: everything lands in one `sample=all`
    // partition (the reference's layout). Keying the partitionBy on the
    // raw title here would fan every read into its own directory — a
    // filesystem metadata storm at any real read count.
    val sampleCol = sampleRegex match {
      case Some(re) =>
        coalesce(nullif(regexp_extract($"title", re, 1), lit("")), lit("other"))
      case None => lit("all")
    }
    classified
      .withColumn("sample", sampleCol)
      .withColumn("value", concat_ws("\t",
        when($"classified", "C").otherwise("U"),
        $"title", $"taxon", $"length", $"hits"))
      .select($"sample", $"value")
      .coalesce(maxPartitions)
      .write
      .partitionBy("sample")
      .option("compression", "gzip")
      .mode("overwrite")
      .text(path)
  }
}
