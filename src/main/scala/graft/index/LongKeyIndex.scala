package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.kmers.{Dna, SupermerScanner}
import graft.sources.InputFragment
import graft.taxa.{Sentinels, Taxonomy}

/** A classification-time span in width-normalized form: the ordinal / flag /
  * mate-border protocol shared by every key width, with the minimizer as up
  * to four longs (id1 = leading word; trailing words are 0 below the
  * index's width and dropped from DataFrame schemas). One span type for all
  * widths is what lets the whole Dataset-level pipeline below be written
  * once (spec: the reference treats key width uniformly through its idLongs
  * column scheme, kmers/KmerKeyedIndex.scala:27-55).
  *
  * @param distinct minimizer differs from the previous valid span's (feeds
  *                 the minimum-hit-groups rule)
  * @param kmers    number of k-mers in the span
  * @param flag     SEQUENCE=1 / AMBIGUOUS=2 / MATE_PAIR_BORDER=3
  * @param ordinal  position of the span within its read (order
  *                 reconstruction after shuffles)
  * @param seqLen   total fragment length (constant per title)
  */
final case class KeyedOrdinalSpan(
    id1: Long, id2: Long, id3: Long, id4: Long, distinct: Boolean, kmers: Int,
    flag: Int, ordinal: Int, title: String, seqLen: Int)

/** The width-generic minimizer-index pipeline: everything Dataset-level —
  * span extraction protocol, leaf-pair emission, LCA fold, classification
  * join, broadcast in-memory classification, bucketed persistence — written
  * ONCE over `words` (the number of 64-bit key words, 1..4). The two
  * subclasses — [[MinimizerIndex]] (one long, m <= 32) and
  * [[WideMinimizerIndex]] (2..4 longs, m in [33, 128]) — contribute only
  * their executor-local scanner kernel ([[scanKeyed]]), their
  * broadcast-table builder ([[buildTable]]) and the parameter sidecar
  * ([[sidecarParams]]): the narrow/wide split stays where it pays (the scan
  * and probe hot loops), not in the plan.
  *
  * Scale design (unchanged from the per-width originals it replaces):
  *  - records are bucketed by the key columns so every classification join
  *    is one-sided (only the read spans shuffle);
  *  - the LCA groupBy gets map-side partial aggregation from the native
  *    codegen'd DeclarativeAggregate (whole-stage HashAggregate, r21);
  *  - ambiguous spans carry random keys for load balance;
  *  - the taxonomy is a broadcast array structure, never a join. */
abstract class LongKeyIndex extends KeyedIndex {

  import Sentinels._

  /** Number of 64-bit key words (1..4); key columns are id1..id<words>. */
  def words: Int

  def bcTax: Broadcast[Taxonomy]

  /** Build the broadcast lookup table from flattened key words
    * (flat(i*words ... i*words+words-1)) and per-row taxa. */
  protected def buildTable(flat: Array[Long], taxa: Array[Int]): KeyTaxonTable

  /** Parameters to stamp beside persisted records. */
  protected def sidecarParams(buckets: Int): IndexParams

  override def keyCols: Seq[String] = (1 to words).map(i => s"id$i")

  override def taxonomyOf: Broadcast[Taxonomy] = bcTax

  /** DataFrames carry exactly `words` key columns (the reference schema);
    * the 4-field span case class pads trailing words with 0. */
  private def dropUnused(df: DataFrame): DataFrame = words match {
    case 1 => df.drop("id2", "id3", "id4")
    case 2 => df.drop("id3", "id4")
    case 3 => df.drop("id4")
    case _ => df
  }

  // ---------------- span extraction (shared protocol) ----------------

  /** Split one fragment into ordinal spans: valid segments through the
    * width's scanner kernel; ambiguous segments (len >= k) as single
    * pseudo-spans with random keys; a border sentinel between mates. */
  def fragmentSpans(f: InputFragment): Iterator[KeyedOrdinalSpan] = {
    val k = kOf
    val n = words
    val rnd = java.util.concurrent.ThreadLocalRandom.current()
    val totalLen = f.nucleotides.length + f.nucleotides2.map(_.length).getOrElse(0)

    def rndSpan(kmers: Int, flag: Int): (Long, Long, Long, Long, Int, Int) =
      (rnd.nextLong(), if (n > 1) rnd.nextLong() else 0L,
        if (n > 2) rnd.nextLong() else 0L, if (n > 3) rnd.nextLong() else 0L,
        kmers, flag)

    def segSpans(seq: String): Iterator[(Long, Long, Long, Long, Int, Int)] =
      SupermerScanner.splitByAmbiguity(seq).iterator.flatMap { run =>
        if (run.seq.length < k) Iterator.empty
        else if (run.valid)
          scanKeyed(run.seq).map(sm =>
            (sm.k1, sm.k2, sm.k3, sm.k4, sm.kmers, SEQUENCE_FLAG))
        else Iterator(rndSpan(run.seq.length - (k - 1), AMBIGUOUS_FLAG))
      }

    val all = f.nucleotides2 match {
      case Some(nt2) =>
        segSpans(f.nucleotides) ++ Iterator(rndSpan(0, MATE_PAIR_BORDER_FLAG)) ++
          segSpans(nt2)
      case None => segSpans(f.nucleotides)
    }

    var l1 = 0L; var l2 = 0L; var l3 = 0L; var l4 = 0L
    var first = true
    all.zipWithIndex.map { case ((k1, k2, k3, k4, kmers, flag), ordinal) =>
      val isSeq = flag == SEQUENCE_FLAG
      val changed = k1 != l1 || k2 != l2 || k3 != l3 || k4 != l4
      val distinct = isSeq && (first || changed)
      if (isSeq) { l1 = k1; l2 = k2; l3 = k3; l4 = k4; first = false }
      KeyedOrdinalSpan(k1, k2, k3, k4, distinct, kmers, flag, ordinal,
        f.header, totalLen)
    }
  }

  def spans(reads: Dataset[InputFragment]): Dataset[KeyedOrdinalSpan] = {
    val spark = reads.sparkSession
    import spark.implicits._
    reads.mapPartitions(it => it.flatMap(f => fragmentSpans(f)))
  }

  override def spansDF(reads: Dataset[InputFragment]): DataFrame =
    dropUnused(spans(reads).toDF())

  override def timedSpanMass(reads: Dataset[(java.sql.Timestamp, InputFragment)])
      : DataFrame = {
    val spark = reads.sparkSession
    import spark.implicits._
    dropUnused(reads.mapPartitions { it =>
      it.flatMap { case (ts, f) =>
        fragmentSpans(f).map(s => (ts, s.id1, s.id2, s.id3, s.id4, s.kmers))
      }
    }.toDF("ts", "id1", "id2", "id3", "id4", "kmers"))
  }

  // ---------------- index build ----------------

  /** Arity-matched (key..., taxon) emission — one tuple shape per width, so
    * the DataFrame schema is exactly the reference's id1..idN columns with
    * no padding columns shuffled. The validity gate drops label taxa absent
    * from the taxonomy (stale seqid2taxid entries): without it their
    * minimizers would fold to ROOT and silently degrade every shared
    * minimizer's LCA (spec: reference slacken/KeyValueIndex.scala:105-121). */
  private def leafPairs(library: Dataset[(Int, String)]): DataFrame = {
    val spark = library.sparkSession
    import spark.implicits._
    val k = kOf
    val tax = bcTax
    def supermers(taxon: Int, seq: String): Iterator[KeyedSupermer] =
      if (!tax.value.isDefined(taxon)) Iterator.empty
      else SupermerScanner.splitByAmbiguity(seq).iterator.flatMap { run =>
        if (!run.valid || run.seq.length < k) Iterator.empty
        else scanKeyed(run.seq)
      }
    words match {
      case 1 => library.flatMap { case (t, s) =>
        supermers(t, s).map(sm => (sm.k1, t)) }.toDF("id1", "taxon")
      case 2 => library.flatMap { case (t, s) =>
        supermers(t, s).map(sm => (sm.k1, sm.k2, t)) }.toDF("id1", "id2", "taxon")
      case 3 => library.flatMap { case (t, s) =>
        supermers(t, s).map(sm => (sm.k1, sm.k2, sm.k3, t))
      }.toDF("id1", "id2", "id3", "taxon")
      case _ => library.flatMap { case (t, s) =>
        supermers(t, s).map(sm => (sm.k1, sm.k2, sm.k3, sm.k4, t))
      }.toDF("id1", "id2", "id3", "id4", "taxon")
    }
  }

  override def buildRecords(library: Dataset[(Int, String)]): DataFrame =
    makeRecords(library)

  override def buildLeafPairs(library: Dataset[(Int, String)]): DataFrame =
    leafPairs(library).distinct()

  /** Build key -> LCA-taxon records: flatMap minimizers -> groupBy(key) ->
    * LCA fold (map-side partial aggregation from the native aggregate).
    * @param saltBuckets optional skew hardening for 100 TB libraries:
    *   low-complexity DNA concentrates a few minimizers into giant groups;
    *   with salting the fold runs in two stages — groupBy(key, salt) then
    *   groupBy(key) — legal because LCA is associative and commutative
    *   (SURVEY §7.4 risk 5). 0 = single-stage (default). */
  def makeRecords(library: Dataset[(Int, String)], saltBuckets: Int = 0)
      : DataFrame =
    foldRecords(leafPairs(library), saltBuckets)

  /** Split a string library into 2-bit packed valid runs: (taxon, packed
    * bytes, base length). Pack BEFORE any wide transformation (label join,
    * repartition) so genome payloads move at 2 bits/base instead of UTF-8
    * text (spec: reference NTBitArray library payload). */
  def packLibrary(library: Dataset[(Int, String)]): Dataset[(Int, Array[Byte], Int)] = {
    val spark = library.sparkSession
    import spark.implicits._
    val k = kOf
    library.flatMap { case (taxon, seq) =>
      SupermerScanner.splitByAmbiguity(seq).collect {
        case run if run.valid && run.seq.length >= k =>
          (taxon, Dna.pack2bit(run.seq), run.seq.length)
      }
    }
  }

  /** [[makeRecords]] over a 2-bit packed library (see [[packLibrary]]):
    * identical records, but the scan reads the packed bytes through a
    * zero-copy view — no unpacked string is ever materialized. */
  def makeRecordsPacked(library: Dataset[(Int, Array[Byte], Int)],
      saltBuckets: Int = 0): DataFrame = {
    val spark = library.sparkSession
    import spark.implicits._
    val tax = bcTax
    def supermers(taxon: Int, packed: Array[Byte], len: Int) =
      if (!tax.value.isDefined(taxon)) Iterator.empty
      else scanKeyed(new Dna.Packed(packed, len))
    val pairs = words match {
      case 1 => library.flatMap { case (t, p, l) =>
        supermers(t, p, l).map(sm => (sm.k1, t)) }.toDF("id1", "taxon")
      case 2 => library.flatMap { case (t, p, l) =>
        supermers(t, p, l).map(sm => (sm.k1, sm.k2, t)) }.toDF("id1", "id2", "taxon")
      case 3 => library.flatMap { case (t, p, l) =>
        supermers(t, p, l).map(sm => (sm.k1, sm.k2, sm.k3, t))
      }.toDF("id1", "id2", "id3", "taxon")
      case _ => library.flatMap { case (t, p, l) =>
        supermers(t, p, l).map(sm => (sm.k1, sm.k2, sm.k3, sm.k4, t))
      }.toDF("id1", "id2", "id3", "id4", "taxon")
    }
    foldRecords(pairs, saltBuckets)
  }

  /** The LCA fold: groupBy(key cols), optionally in two salted stages
    * (legal because LCA is associative and commutative). Uses the native
    * codegen'd DeclarativeAggregate (Int buffer slot in the standard
    * UnsafeRow hash map — whole-stage HashAggregate, map-side combine). */
  private def foldRecords(pairs: DataFrame, saltBuckets: Int): DataFrame = {
    val spark = pairs.sparkSession
    val lcaName = graft.taxa.LcaAggregate.register(spark, bcTax)
    val lcaAgg = (c: Column) => graft.taxa.LcaAggregate.lcaAgg(lcaName, c)
    if (saltBuckets <= 0)
      pairs.groupBy(keyCols.map(col): _*).agg(lcaAgg(col("taxon")).as("taxon"))
    else
      pairs
        .withColumn("salt", pmod(hash(col("taxon")), lit(saltBuckets)))
        .groupBy((keyCols :+ "salt").map(col): _*)
        .agg(lcaAgg(col("taxon")).as("taxon"))
        .groupBy(keyCols.map(col): _*).agg(lcaAgg(col("taxon")).as("taxon"))
  }

  override def foldLeafPairs(pairs: DataFrame, extraCols: Seq[String] = Nil)
      : DataFrame = {
    val spark = pairs.sparkSession
    val lcaName = graft.taxa.LcaAggregate.register(spark, bcTax)
    pairs.groupBy((extraCols ++ keyCols).map(col): _*)
      .agg(graft.taxa.LcaAggregate.lcaAgg(lcaName, col("taxon")).as("taxon"))
  }

  // ---------------- classification ----------------

  override def classifyDF(spans: DataFrame, records: DataFrame,
      confidence: Double = 0.0, minHitGroups: Int = 2,
      detail: Boolean = true): Dataset[ClassifiedRead] =
    ClassifyKernel.classifyJoined(spans.join(records, keyCols, "left"),
      bcTax, confidence, minHitGroups, detail)

  /** Join spans against records (left; the bucketed record side does not
    * shuffle), then the shared kernel: sentinel projection, per-read
    * regroup, LCA resolution. */
  def classify(spans: Dataset[KeyedOrdinalSpan], records: DataFrame,
      confidence: Double = 0.0, minHitGroups: Int = 2,
      detail: Boolean = true): Dataset[ClassifiedRead] =
    classifyDF(dropUnused(spans.toDF()), records, confidence, minHitGroups,
      detail)

  /** (title, taxon) projection of [[classify]], kept for report-only
    * callers. */
  def classifyReport(spans: Dataset[KeyedOrdinalSpan], records: DataFrame,
      confidence: Double = 0.0, minHitGroups: Int = 2): DataFrame =
    classify(spans, records, confidence, minHitGroups)
      .select(col("title"), col("taxon"))

  /** Classify at several confidence thresholds computing the expensive
    * join+regroup ONCE (spec: R4 multi-threshold sweep, reference
    * Classifier.scala:156-170). Loan pattern: the cached hit dataset is
    * unpersisted on the way out, so sweeps cannot leak cache. */
  def classifyMultiThreshold[T](spans: Dataset[KeyedOrdinalSpan],
      records: DataFrame, confidences: Seq[Double], minHitGroups: Int = 2,
      detail: Boolean = true)
      (use: Seq[(Double, Dataset[ClassifiedRead])] => T): T =
    classifyMultiThresholdDF(dropUnused(spans.toDF()), records, confidences,
      minHitGroups, detail)(use)

  /** Classification as a pure map — ZERO shuffles: collect the records into
    * a broadcast open-addressing table and scan + lookup + resolve every
    * read inside ONE mapPartitions (spans of a read are generated
    * contiguously and already ordinal-ordered, so no regroup is needed).
    * This is the reference tool family's resident-hash-table execution
    * model expressed in Spark; use it when the index fits driver/executor
    * memory — [[classify]]'s one-sided bucketed join remains the scale path
    * when it does not. Output is row-identical to [[classify]] (shared
    * [[ClassifyKernel]] semantics). */
  override def inMemoryClassifier(records: DataFrame): InMemoryClassifier = {
    val spark = records.sparkSession
    val n = words
    val rows = records.select((keyCols.map(col) :+ col("taxon")): _*).collect()
    val flat = new Array[Long](rows.length * n)
    val taxa = new Array[Int](rows.length)
    var r = 0
    while (r < rows.length) {
      var w = 0
      while (w < n) { flat(r * n + w) = rows(r).getLong(w); w += 1 }
      taxa(r) = rows(r).getInt(n)
      r += 1
    }
    val table = buildTable(flat, taxa)
    val bc = spark.sparkContext.broadcast(table)
    val tax = bcTax
    val outer = this
    new InMemoryClassifier {
      override def tableBytes: Long = table.byteSize
      override def close(): Unit = bc.destroy()

      def classify(reads: Dataset[InputFragment], confidence: Double,
          minHitGroups: Int, detail: Boolean): Dataset[ClassifiedRead] = {
        val session = reads.sparkSession
        import session.implicits._
        // Copy the captures into method locals: the lambda below must not
        // reference fields of this anonymous classifier (which holds the
        // whole collected `table` for tableBytes) or the table would ride
        // every task binary on top of the broadcast that exists to avoid
        // exactly that.
        val lbc = bc; val ltax = tax; val lidx = outer
        reads.mapPartitions { it =>
          val resolver = new graft.taxa.LcaResolver(ltax.value)
          val tbl = lbc.value
          it.flatMap { f =>
            val hits = lidx.fragHits(f, tbl)
            // a read with no spans has no group row in the join path either
            if (hits.isEmpty) None
            else {
              val seqLen = f.nucleotides.length +
                f.nucleotides2.map(_.length).getOrElse(0)
              Some(ClassifyKernel.resolveLocal(f.header, hits, seqLen,
                resolver, confidence, minHitGroups, detail))
            }
          }
        }
      }

      def classifySweep(reads: Dataset[InputFragment],
          confidences: Seq[Double], minHitGroups: Int, detail: Boolean)
          : Dataset[(Double, ClassifiedRead)] = {
        val session = reads.sparkSession
        import session.implicits._
        val lbc = bc; val ltax = tax; val lidx = outer
        reads.mapPartitions { it =>
          val resolver = new graft.taxa.LcaResolver(ltax.value)
          val tbl = lbc.value
          it.flatMap { f =>
            val hits = lidx.fragHits(f, tbl)
            if (hits.isEmpty) Iterator.empty
            else {
              val seqLen = f.nucleotides.length +
                f.nucleotides2.map(_.length).getOrElse(0)
              confidences.iterator.map(c => c -> ClassifyKernel.resolveLocal(
                f.header, hits, seqLen, resolver, c, minHitGroups, detail))
            }
          }
        }
      }
    }
  }

  /** Scan one fragment and probe the broadcast table. Lives on the index
    * (which executors already hold for the scanner kernel), NOT on the
    * classifier object, so the classify closures never capture the
    * collected table.
    *
    * The probe loop is written once per concrete table type on purpose:
    * each branch owns a statically-typed `get` call site on a final class,
    * which stays monomorphic (and inlinable) even when one JVM exercises
    * narrow and wide indexes back-to-back — benchmarks and sweeps would
    * otherwise turn the shared interface call site megamorphic and slow the
    * zero-shuffle path (ADVICE r13). The type dispatch itself runs once per
    * fragment, not per span. */
  private[index] def fragHits(f: InputFragment, tbl: KeyTaxonTable): Vector[TaxonHit] =
    tbl match {
      case t: LongTaxonMap =>
        fragmentSpans(f).map { s =>
          val x = s.flag match {
            case AMBIGUOUS_FLAG => AMBIGUOUS_SPAN
            case MATE_PAIR_BORDER_FLAG => MATE_PAIR_BORDER
            case _ => t.get(s.id1, s.id2, s.id3, s.id4)
          }
          TaxonHit(s.ordinal, x, s.kmers, s.distinct)
        }.toVector
      case t: WideTaxonMap =>
        fragmentSpans(f).map { s =>
          val x = s.flag match {
            case AMBIGUOUS_FLAG => AMBIGUOUS_SPAN
            case MATE_PAIR_BORDER_FLAG => MATE_PAIR_BORDER
            case _ => t.get(s.id1, s.id2, s.id3, s.id4)
          }
          TaxonHit(s.ordinal, x, s.kmers, s.distinct)
        }.toVector
    }

  /** Per-taxon read counts -> Kraken-style report, driver-side clade
    * aggregation (shared kernel). */
  def report(classified: Dataset[ClassifiedRead]): KrakenReport =
    ClassifyKernel.report(classified, bcTax)

  // ---------------- persistence (bucketed parquet) ----------------

  /** Persist records bucketed by the key columns so classification joins
    * never shuffle the index side (spec: reference
    * KeyValueIndex.scala:125-159): bucketBy + sortBy + saveAsTable, params
    * sidecar beside the data. */
  def writeRecords(records: DataFrame, path: String, buckets: Int): Unit = {
    val spark = records.sparkSession
    val table = MinimizerIndex.tableName(path)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    records.write
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .option("path", path)
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
    IndexParams.write(spark, sidecarParams(buckets), path)
  }

  /** Reopen bucketed records via DDL (bucket metadata makes the sort-merge
    * join one-sided; shuffle.partitions should equal `buckets`). */
  def loadRecords(spark: SparkSession, path: String, buckets: Int): DataFrame = {
    val table = MinimizerIndex.tableName(path)
    val keySchema = keyCols.map(c => s"$c BIGINT").mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table ($keySchema, taxon INT)
         |USING PARQUET
         |CLUSTERED BY (${keyCols.mkString(", ")})
         |SORTED BY (${keyCols.mkString(", ")}) INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.table(table)
  }
}
