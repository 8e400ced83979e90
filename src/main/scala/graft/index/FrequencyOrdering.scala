package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kmers.{Dna, WidePriority, WideScanner, WideSupermer}

/** Sampled frequency minimizer ordering: find the most frequent canonical
  * m-mers of a library sample and demote them (see
  * [[graft.kmers.FrequencyPriority]]), so over-represented (low-complexity)
  * m-mers stop being chosen as minimizers and the giant index buckets they
  * would produce never form (behavioral spec: reference sampled frequency
  * orderings, kmers/minimizer/MinimizerPriorities.scala:93-280).
  *
  * Scale design: the counting pass is sample-fraction bounded, all-distributed
  * (flatMap -> groupBy -> top-N via orderBy/limit = TakeOrdered — only topN
  * rows ever reach the driver), and runs over the 2-bit packed library so no
  * genome string materializes.
  */
object FrequencyOrdering {

  /** Every canonical m-mer of a valid (ACGT-only) segment, rolling. */
  def canonicalMers(seq: CharSequence, m: Int): Iterator[Long] = {
    val mask = Dna.merMask(m)
    var mer = 0L
    Iterator.range(0, seq.length).flatMap { i =>
      mer = ((mer << 2) | Dna.code(seq.charAt(i))) & mask
      if (i >= m - 1) Iterator.single(Dna.canonical(mer, m)) else Iterator.empty
    }
  }

  /** The topN most frequent canonical m-mers of a sampled packed library,
    * sorted ascending (the demotion set). Counts every m-mer position, not
    * just chosen minimizers — the ordering must know what WOULD be chosen. */
  def topCanonicalMers(library: Dataset[(Int, Array[Byte], Int)], m: Int,
      fraction: Double = 0.2, topN: Int = 4096, seed: Long = 42L): Array[Long] = {
    val spark = library.sparkSession
    import spark.implicits._
    val sampled =
      if (fraction >= 1.0) library
      else library.sample(withReplacement = false, fraction, seed)
    sampled
      .flatMap { case (_, packed, len) =>
        canonicalMers(new Dna.Packed(packed, len), m)
      }
      .toDF("mer")
      .groupBy($"mer").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"mer")
      .limit(topN)
      .select($"mer").as[Long]
      .collect()
      .sorted
  }

  /** Every canonical wide (m in [33, 128]) m-mer of a valid segment,
    * run-length encoded: the wide scanner at k = m with a zero toggle mask,
    * whose super-mer keys (id1..id<ceil(m/32)>) ARE the canonical m-mers and
    * whose k-mer counts are the run lengths in positions. */
  def canonicalWideMers(seq: CharSequence, m: Int): Iterator[WideSupermer] =
    canonicalScanner(m).scan(seq)

  private def canonicalScanner(m: Int): WideScanner =
    new WideScanner(m, new WidePriority(m, xorMask = 0L))

  /** Wide (m in [33, 128]) variant of [[topCanonicalMers]]: the topN most
    * frequent canonical `ceil(m/32)`-word m-mers, returned interleaved
    * (word 0 first) and sorted unsigned word-lexicographically — the
    * demotion set of [[graft.kmers.WidePriority]]. */
  def topCanonicalWideMers(library: Dataset[(Int, Array[Byte], Int)], m: Int,
      fraction: Double = 0.2, topN: Int = 4096, seed: Long = 42L): Array[Long] = {
    val spark = library.sparkSession
    import spark.implicits._
    val words = (m + 31) / 32
    val sampled =
      if (fraction >= 1.0) library
      else library.sample(withReplacement = false, fraction, seed)
    val keyCols = (1 to words).map(i => col(s"id$i"))
    val scanner = canonicalScanner(m)
    sampled
      .flatMap { case (_, packed, len) =>
        scanner.scan(new Dna.Packed(packed, len))
      }
      .groupBy(keyCols: _*).agg(sum($"kmers").as("n"))
      .orderBy($"n".desc +: keyCols: _*)
      .limit(topN)
      .select(keyCols: _*)
      .collect()
      .map(r => Array.tabulate(words)(r.getLong))
      .sortWith(WidePriority.unsignedLess)
      .flatten
  }

  /** Demotion sets are sets — the priorities hash them — so two sidecars
    * listing the same m-mers (`words` longs each) in different orders
    * describe the same ordering. */
  def sameDemotionSet(a: Array[Long], b: Array[Long], words: Int): Boolean = {
    import scala.math.Ordering.Implicits.seqOrdering
    def sorted(x: Array[Long]): Seq[Seq[Long]] =
      x.toSeq.grouped(words).toSeq.sorted
    a.length == b.length && sorted(a) == sorted(b)
  }

  /** Width-dispatched entry: the demotion set for any supported m, as the
    * interleaved-long encoding each priority expects. m=32 is rejected
    * (ADVICE r17): the narrow single-long path needs a spare bit for the
    * demote flag (Main's CLI guard is m <= 31) and the wide two-word keys
    * start at m=33 — a silent m=32 dispatch would produce a demotion set
    * no index can apply. */
  def topMers(library: Dataset[(Int, Array[Byte], Int)], m: Int,
      fraction: Double = 0.2, topN: Int = 4096, seed: Long = 42L): Array[Long] = {
    require(m != 32,
      "m=32 unsupported for frequency ordering: the narrow path needs a " +
        "spare demote bit (use m <= 31) and wide keys start at m=33")
    if (m > 32) topCanonicalWideMers(library, m, fraction, topN, seed)
    else topCanonicalMers(library, m, fraction, topN, seed)
  }

  // --- session memo -------------------------------------------------------
  // A session computes a library's demotion set ONCE per (library, params):
  // the counting pass is a full flatMap->groupBy->TakeOrdered over the
  // packed library (20.8 s at the g13 sf1.0 tier), and both the bench
  // harness (one build per rep) and real sessions (build then reuse) were
  // re-paying it. Keyed by a caller-declared library identity string —
  // plan fingerprints are unstable across typed lambdas, so identity is
  // the caller's responsibility, same as the indexPath key of
  // IndexOps.minimizersPerTaxonMemo.
  // access-order LRU bounded at 64 entries: eviction drops the least
  // recently USED entry one at a time (ADVICE r17: the old ConcurrentHashMap
  // full clear() wiped the hot entry about to be re-requested, and its
  // size-check/clear/computeIfAbsent sequence raced concurrent builders
  // into redundant recomputes). All map ops hold the monitor briefly;
  // the topMers computation itself runs UNLOCKED so concurrent builders of
  // different libraries never serialize behind one 20 s counting scan.
  private val sessionMemo =
    new java.util.LinkedHashMap[String, Array[Long]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[Long]]): Boolean = size > 64
    }

  private def memoKey(libraryKey: String, m: Int, fraction: Double, topN: Int,
      seed: Long) = s"$libraryKey|m=$m|f=$fraction|top=$topN|seed=$seed"

  /** [[topMers]] memoized for the session under `libraryKey` + params.
    * Bounded at 64 LRU entries: a long-lived session cycling through many
    * libraries evicts the least recently used set rather than growing
    * without limit (a demotion set is up to topN * words longs — 2 MB at
    * topN=65536/m=128 — and recomputing one is cheap next to holding
    * hundreds). Two builders racing the SAME cold key may both compute
    * (memo effectiveness, not correctness — the first store wins and both
    * callers get that array). */
  def sessionTopMers(libraryKey: String, library: Dataset[(Int, Array[Byte], Int)],
      m: Int, fraction: Double = 0.2, topN: Int = 4096, seed: Long = 42L)
      : Array[Long] = {
    val key = memoKey(libraryKey, m, fraction, topN, seed)
    val cached = sessionMemo.synchronized(sessionMemo.get(key))
    if (cached != null) cached
    else {
      val computed = topMers(library, m, fraction, topN, seed)
      sessionMemo.synchronized {
        val raced = sessionMemo.get(key)
        if (raced != null) raced
        else { sessionMemo.put(key, computed); computed }
      }
    }
  }

  /** A library identity string for the disk memo that folds in a CONTENT
    * stamp (per-file byte length + modification time, @file-lists
    * expanded), not just the path: rebuilding into the same output after
    * the library changed in place — the most common rebuild trigger —
    * must invalidate the persisted demotion set, or the anti-skew
    * ordering silently stops reflecting the actual library (ADVICE r17).
    * An unreadable path stamps as "unknown", which never matches a real
    * stamp, so doubt recomputes rather than reuses. */
  def libraryContentSpec(spark: SparkSession, rawSpec: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = graft.sources.Sequences.expandFileList(spark, Seq(rawSpec))
    val stamps = paths.map { s =>
      try {
        val p = new org.apache.hadoop.fs.Path(s)
        val fs = p.getFileSystem(conf)
        val len = fs.getContentSummary(p).getLength
        val mtime = fs.getFileStatus(p).getModificationTime
        s"$len:$mtime"
      } catch { case scala.util.control.NonFatal(_) => "unknown" }
    }
    s"$rawSpec|${stamps.mkString(",")}"
  }

  private def sidecar(indexPath: String) =
    new org.apache.hadoop.fs.Path(indexPath, "_freq_ordering")

  private def paramsSidecar(indexPath: String) =
    new org.apache.hadoop.fs.Path(indexPath, "_freq_ordering.params")

  /** Persist the demotion set beside the index (8 bytes/mer, length-prefixed)
    * so classify-time scans reproduce the identical ordering. */
  def write(spark: SparkSession, indexPath: String, demoted: Array[Long]): Unit = {
    val p = sidecar(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(p, true)))
    try {
      out.writeInt(demoted.length)
      demoted.foreach(out.writeLong)
    } finally out.close()
  }

  def read(spark: SparkSession, indexPath: String): Array[Long] = {
    val p = sidecar(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p)))
    try Array.fill(in.readInt())(in.readLong()) finally in.close()
  }

  // --- cross-session (disk) memo -------------------------------------------
  // The `_freq_ordering` payload already persists beside the index (the
  // classify-time reload path above); `_freq_ordering.params` records HOW it
  // was derived — (m, fraction, topN, seed) plus a caller-declared library
  // spec — so a REBUILD into the same path with the same derivation reloads
  // the set instead of rescanning the library. Written last (after the
  // bucketed table write, which wipes the directory on overwrite), so a
  // present params file always describes the payload next to it.

  /** Record the derivation params beside an already-written demotion set. */
  def writeParams(spark: SparkSession, indexPath: String, m: Int,
      fraction: Double, topN: Int, seed: Long, librarySpec: String): Unit = {
    val props = new java.util.Properties()
    props.setProperty("m", m.toString)
    props.setProperty("fraction", fraction.toString)
    props.setProperty("topN", topN.toString)
    props.setProperty("seed", seed.toString)
    props.setProperty("library", librarySpec)
    val p = paramsSidecar(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try props.store(out, "graft frequency-ordering derivation") finally out.close()
  }

  /** The persisted demotion set, if one exists at `indexPath` AND its
    * params sidecar matches this derivation exactly (any mismatch — or a
    * payload with no params provenance — recomputes). */
  def readIfParamsMatch(spark: SparkSession, indexPath: String, m: Int,
      fraction: Double, topN: Int, seed: Long, librarySpec: String)
      : Option[Array[Long]] = {
    val p = paramsSidecar(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.exists(sidecar(indexPath))) None
    else {
      val props = new java.util.Properties()
      val in = fs.open(p)
      try props.load(in) finally in.close()
      val matches = props.getProperty("m") == m.toString &&
        props.getProperty("fraction") == fraction.toString &&
        props.getProperty("topN") == topN.toString &&
        props.getProperty("seed") == seed.toString &&
        props.getProperty("library") == librarySpec
      if (matches) Some(read(spark, indexPath)) else None
    }
  }
}
