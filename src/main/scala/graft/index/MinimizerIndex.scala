package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.kmers._
import graft.taxa.Taxonomy

/** Index construction parameters, persisted as a sidecar next to the records
  * (spec: reference kmers/IndexParams.scala). Defaults are Kraken 2's. */
final case class IndexParams(
    k: Int = 35,
    m: Int = 31,
    spaces: Int = 7,
    canonical: Boolean = true,
    xorMask: Long = RandomXorPriority.DEFAULT_MASK,
    buckets: Int = 32,
    demoted: Option[Array[Long]] = None,
    /** Record count, stamped by the CLI build (which counts anyway to report
      * it): lets classify pick the in-memory zero-shuffle path with no extra
      * job. None for indexes written before the field existed, or derived
      * ones whose count was not re-measured. */
    records: Option[Long] = None) {

  /** Key words per minimizer: 1 narrow (m <= 32), ceil(m/32) wide. */
  def words: Int = (m + 31) / 32

  def priority: MinimizerPriority = {
    val base = RandomXorPriority(m, xorMask, canonical)
    val spaced = if (spaces > 0) SpacedSeedPriority(spaces, base) else base
    // frequency ordering: the sampled most-frequent m-mers sort after all
    // others (see FrequencyPriority) — the demotion wraps the spaced/XOR
    // ordering so within each class the base ordering breaks ties
    demoted match {
      case Some(d) => FrequencyPriority(d, spaced)
      case None => spaced
    }
  }

  def scanner: SupermerScanner = new SupermerScanner(k, priority)
}

/** A span joined to the index: resolved LCA taxon + k-mer count. */
final case class TaxonHit(ordinal: Int, taxon: Int, kmers: Int, distinct: Boolean)

/** Kraken-compatible per-read classification result. */
final case class ClassifiedRead(
    title: String, classified: Boolean, taxon: Int, length: Int, hits: String) {
  def outputLine: String =
    s"${if (classified) "C" else "U"}\t$title\t$taxon\t$length\t$hits"
}

/** The single-long minimizer -> LCA-taxon index (m <= 32; spec: reference
  * slacken/KeyValueIndex.scala, Classifier.scala — re-architected:
  * single-Long minimizer keys, depth-based LCA, no k-mer payload ever
  * shuffled). The whole Dataset-level pipeline lives in [[LongKeyIndex]];
  * this class contributes the m <= 32 scanner kernel and the single-long
  * broadcast table. */
final class MinimizerIndex(params: IndexParams,
    override val bcTax: Broadcast[Taxonomy]) extends LongKeyIndex {

  def paramsOf: IndexParams = params

  override def words: Int = 1

  override def kOf: Int = params.k

  // one scanner per deserialized index instance (per task), not per call:
  // scanKeyed runs once per ambiguity run inside per-fragment hot loops
  @transient private lazy val sharedScanner = params.scanner

  override def scanKeyed(segment: CharSequence): Iterator[KeyedSupermer] =
    sharedScanner.scan(segment)
      .map(sm => KeyedSupermer(sm.minimizer, 0L, sm.start, sm.kmers))

  override protected def buildTable(flat: Array[Long], taxa: Array[Int])
      : KeyTaxonTable =
    LongTaxonMap(Array.tabulate(taxa.length)(i => (flat(i), taxa(i))))

  override protected def sidecarParams(buckets: Int): IndexParams =
    params.copy(buckets = buckets)

  /** Persist with this index's configured bucket count. */
  def writeRecords(records: DataFrame, path: String): Unit =
    writeRecords(records, path, params.buckets)

  /** Reopen with this index's configured bucket count. */
  def loadRecords(spark: SparkSession, path: String): DataFrame =
    loadRecords(spark, path, params.buckets)
}

object MinimizerIndex {

  /** Catalog table name for the bucketed records at `path`. Derived from a
    * 128-bit SHA-256 prefix of the path, not `String.hashCode`: two open
    * indexes whose paths collided in the 32-bit hash would DROP/CREATE each
    * other's catalog entry and cross-wire the DDL reload. At 128 bits a
    * collision needs ~2^64 open indexes. */
  def tableName(path: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8"))
    "graft_idx_" + d.take(16).map(b => f"$b%02x").mkString
  }

  def loadRecords(spark: SparkSession, path: String, buckets: Int): DataFrame = {
    val table = tableName(path)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (id1 BIGINT, taxon INT)
         |USING PARQUET
         |CLUSTERED BY (id1) SORTED BY (id1) INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.table(table)
  }

  /** Load an index (records + params sidecar) from a path. */
  def open(spark: SparkSession, path: String, bcTax: Broadcast[Taxonomy])
      : (MinimizerIndex, DataFrame) = {
    val params = IndexParams.read(spark, path)
    val idx = new MinimizerIndex(params, bcTax)
    (idx, idx.loadRecords(spark, path))
  }
}

object IndexParams {
  import org.apache.hadoop.fs.Path

  /** @param writeDemotionSidecar false when re-stamping properties for an
    *   index whose demotion sidecar is already on disk (skips the redundant
    *   second write of the demoted array). */
  def write(spark: SparkSession, p: IndexParams, indexPath: String,
      writeDemotionSidecar: Boolean = true): Unit = {
    val props = new java.util.Properties()
    props.setProperty("k", p.k.toString)
    props.setProperty("m", p.m.toString)
    props.setProperty("spaces", p.spaces.toString)
    props.setProperty("canonical", p.canonical.toString)
    props.setProperty("xorMask", java.lang.Long.toHexString(p.xorMask))
    props.setProperty("buckets", p.buckets.toString)
    props.setProperty("ordering", if (p.demoted.isDefined) "frequency" else "xor")
    for (n <- p.records) props.setProperty("records", n.toString)
    val path = new Path(indexPath, "_index.properties")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try props.store(out, "graft index parameters") finally out.close()
    // the demotion set travels with the index: classify-time scans must
    // reproduce the exact build-time ordering or keys will not match
    if (writeDemotionSidecar)
      for (d <- p.demoted) FrequencyOrdering.write(spark, indexPath, d)
  }

  def read(spark: SparkSession, indexPath: String): IndexParams = {
    val path = new Path(indexPath, "_index.properties")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val props = new java.util.Properties()
    try props.load(in) finally in.close()
    val demoted =
      if (props.getProperty("ordering", "xor") == "frequency")
        Some(FrequencyOrdering.read(spark, indexPath))
      else None
    IndexParams(
      k = props.getProperty("k").toInt,
      m = props.getProperty("m").toInt,
      spaces = props.getProperty("spaces").toInt,
      canonical = props.getProperty("canonical").toBoolean,
      xorMask = java.lang.Long.parseUnsignedLong(props.getProperty("xorMask"), 16),
      buckets = props.getProperty("buckets").toInt,
      demoted = demoted,
      records = Option(props.getProperty("records")).map(_.toLong))
  }
}

/** Driver-side Kraken-style hierarchical report: clade-aggregated counts,
  * DFS print with children ordered by clade count. */
final class KrakenReport(tax: Taxonomy, taxonCounts: Array[(Int, Long)]) {

  val countMap: Map[Int, Long] = taxonCounts.toMap
  val totalReads: Long = taxonCounts.map(_._2).sum
  val unclassified: Long = countMap.getOrElse(Taxonomy.NONE, 0L)

  /** Count per clade: own count + all descendants (computed by walking each
    * counted taxon's root path once). */
  val cladeCounts: Map[Int, Long] = {
    val m = collection.mutable.Map.empty[Int, Long]
    for ((t, c) <- taxonCounts if t != Taxonomy.NONE) {
      var cur = t
      while (cur != Taxonomy.NONE) {
        m(cur) = m.getOrElse(cur, 0L) + c
        cur = tax.parents(cur)
      }
    }
    m.toMap
  }

  def lines: Iterator[String] = {
    val sb = collection.mutable.ArrayBuffer.empty[String]
    def pct(c: Long): String =
      if (totalReads == 0) "0.00" else f"${100.0 * c / totalReads}%.2f"
    def primaryCode(t: Int): Option[String] = tax.rankName(t) match {
      case "superkingdom" => Some("D")
      case "kingdom" => Some("K")
      case "phylum" => Some("P")
      case "class" => Some("C")
      case "order" => Some("O")
      case "family" => Some("F")
      case "genus" => Some("G")
      case "species" => Some("S")
      case _ => None
    }
    if (unclassified > 0)
      sb += s"${pct(unclassified)}\t$unclassified\t$unclassified\tU\t0\tunclassified"
    // sub-rank protocol (spec: reference KrakenReport.scala:72-99, from
    // kraken 2's reports.cc): a ranked taxon emits its own code at depth 0;
    // an unranked taxon inherits the nearest ranked ancestor's code with the
    // number of steps below it, e.g. G1, S2. Root itself prints as R.
    def dfs(t: Int, depth: Int, inheritedCode: String, rankDepth: Int): Unit = {
      val clade = cladeCounts.getOrElse(t, 0L)
      if (clade > 0) {
        val (code, rd) = primaryCode(t) match {
          case Some(c) => (c, 0)
          case None if t == Taxonomy.ROOT => ("R", 0)
          case None => (inheritedCode, rankDepth + 1)
        }
        val codeStr = if (rd == 0) code else s"$code$rd"
        val own = countMap.getOrElse(t, 0L)
        val name = Option(tax.names(t)).getOrElse(s"taxid $t")
        sb += s"${pct(clade)}\t$clade\t$own\t$codeStr\t$t\t${"  " * depth}$name"
        for (c <- tax.children(t).sortBy(c => -cladeCounts.getOrElse(c, 0L)))
          dfs(c, depth + 1, code, rd)
      }
    }
    dfs(Taxonomy.ROOT, 0, "R", 0)
    sb.iterator
  }

  def render: String = lines.mkString("\n")
}
