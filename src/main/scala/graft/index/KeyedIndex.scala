package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import graft.sources.InputFragment
import graft.taxa.Taxonomy

/** Width-independent face of a minimizer index (spec: the reference treats
  * key width uniformly via idLongs columns, KmerKeyedIndex.scala:27-55).
  *
  * One narrow and one wide implementation: [[MinimizerIndex]] (single-long
  * keys, m <= 32) and [[WideMinimizerIndex]] (`ceil(m/32)` = 2..4 long keys,
  * m in [33, 128]) both expose their span extraction, build and
  * classification through this trait, so pipelines built on top of an
  * index — two-step dynamic classification, streaming classification,
  * abundance aggregation — work at any key width. Key columns are always a
  * prefix (id1[, id2, id3, id4]) of the span/record schemas; joins use
  * [[keyCols]].
  */
/** A super-mer in width-normalized form: the minimizer as up to four longs
  * (k1 = id1; k2..k4 = id2..id4 where the width uses them, 0 otherwise —
  * matching the reference's idLongs = ceil(m/32) maximum of 4,
  * KmerKeyedIndex.scala:27-55). k3/k4 trail the historical fields so
  * two-word call sites and consumers stay positional. */
final case class KeyedSupermer(k1: Long, k2: Long, start: Int, kmers: Int,
    k3: Long = 0L, k4: Long = 0L)

/** A broadcast-table classifier built by [[KeyedIndex.inMemoryClassifier]]:
  * the records were collected and broadcast at construction; every
  * [[classify]] call is a pure map over the reads. */
trait InMemoryClassifier extends Serializable {
  def classify(reads: Dataset[InputFragment], confidence: Double = 0.0,
      minHitGroups: Int = 2, detail: Boolean = true): Dataset[ClassifiedRead]

  /** Measured byte size of the broadcast lookup table — memory accounting
    * for the fits-in-memory decision (the CLI logs it beside the
    * record-count heuristic that auto-picked this path). */
  def tableBytes: Long

  /** Release the broadcast table. A classifier is reusable across many
    * classify calls (that is the point — streaming reuses one instance per
    * micro-batch), so nothing auto-destroys it; long-lived processes that
    * build several classifiers (benchmarks, sweeps over indexes) call this
    * when done or the tables pin executor memory for the process lifetime. */
  def close(): Unit = ()

  /** Sweep several confidence thresholds with ONE scan+lookup per read —
    * the zero-shuffle analogue of the join path's cached-join sweep
    * ([[KeyedIndex.classifyMultiThresholdDF]]): hits build once, resolution
    * runs per threshold. Returns (confidence, read) rows; persist before
    * filtering per threshold or each filter re-scans the reads. */
  def classifySweep(reads: Dataset[InputFragment], confidences: Seq[Double],
      minHitGroups: Int = 2, detail: Boolean = true)
      : Dataset[(Double, ClassifiedRead)]
}

trait KeyedIndex extends Serializable {

  /** Join key columns: Seq("id1") narrow, id1..id<ceil(m/32)> wide. */
  def keyCols: Seq[String]

  /** k-mer length of this index. */
  def kOf: Int

  def taxonomyOf: Broadcast[Taxonomy]

  /** Executor-local super-mer scan of one VALID segment (no ambiguity codes,
    * length >= k), keys normalized to four longs. Lets key-agnostic kernels
    * (e.g. the bracken window slide) run at any width. */
  def scanKeyed(segment: CharSequence): Iterator[KeyedSupermer]

  /** Ordinal spans as a DataFrame (key cols + distinct, kmers, flag,
    * ordinal, title, seqLen). */
  def spansDF(reads: Dataset[InputFragment]): DataFrame

  /** Build key -> LCA-taxon records from a labeled library. */
  def buildRecords(library: Dataset[(Int, String)]): DataFrame

  /** Distinct (key..., taxon) leaf pairs of a labeled library — the pre-LCA
    * form of [[buildRecords]]. The expensive minimizer extraction runs once;
    * [[foldLeafPairs]] then derives the LCA records of any taxon subset from
    * these pairs with a cheap filter + re-fold (legal because a subset's
    * record LCA depends only on the subset's leaf pairs). */
  def buildLeafPairs(library: Dataset[(Int, String)]): DataFrame

  /** LCA-fold leaf pairs (shape of [[buildLeafPairs]], optionally carrying
    * extra tag columns) into records grouped by (extraCols ++ keyCols). */
  def foldLeafPairs(pairs: DataFrame, extraCols: Seq[String] = Nil): DataFrame

  /** Per-read classification of a span DataFrame (shape of [[spansDF]]).
    * `detail = false` skips the Kraken hit-string build (r21: count-only
    * consumers aggregate per taxon and drop the string — don't compute
    * what the plan discards, guide §1.2). */
  def classifyDF(spans: DataFrame, records: DataFrame,
      confidence: Double = 0.0, minHitGroups: Int = 2,
      detail: Boolean = true): Dataset[ClassifiedRead]

  /** Collect the records into a broadcast open-addressing table ONCE and
    * return a reusable zero-shuffle classifier over it — scan + lookup +
    * resolve fused in one mapPartitions per classify call, row-identical to
    * [[classifyDF]] over [[spansDF]]. Use when the index fits
    * driver/executor memory (the reference tool family's resident-hash-table
    * execution model); the one-sided bucketed join stays the scale path when
    * it does not. Streaming reuses the same instance across micro-batches. */
  def inMemoryClassifier(records: DataFrame): InMemoryClassifier

  /** One-shot convenience for [[inMemoryClassifier]]. */
  def classifyInMemory(reads: Dataset[InputFragment], records: DataFrame,
      confidence: Double = 0.0, minHitGroups: Int = 2,
      detail: Boolean = true): Dataset[ClassifiedRead] =
    inMemoryClassifier(records).classify(reads, confidence, minHitGroups, detail)

  /** Classify at several confidence thresholds computing the expensive
    * join+regroup ONCE (spec: R4 sweep, reference Classifier.scala:156-170).
    * Loan pattern: the cached hit dataset is unpersisted on the way out.
    * Width-generic — the join runs on [[keyCols]]. `detail` defaults to
    * true like every other classify API (per-read output needs the hit
    * strings); pass false to skip the string build in report-only sweeps. */
  def classifyMultiThresholdDF[T](spans: DataFrame, records: DataFrame,
      confidences: Seq[Double], minHitGroups: Int = 2, detail: Boolean = true)
      (use: Seq[(Double, Dataset[ClassifiedRead])] => T): T = {
    val grouped = ClassifyKernel.group(spans.join(records, keyCols, "left"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try use(confidences.map { conf =>
      conf -> ClassifyKernel.resolve(grouped, taxonomyOf, conf, minHitGroups,
        detail)
    })
    finally grouped.unpersist(blocking = false)
  }

  /** (ts, key cols..., kmers) per span of time-stamped reads — the input of
    * watermarked streaming abundance windows. */
  def timedSpanMass(reads: Dataset[(java.sql.Timestamp, InputFragment)]): DataFrame
}
