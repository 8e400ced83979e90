package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.kmers.SupermerScanner
import graft.taxa.{LcaResolver, Taxonomy}
import scala.collection.mutable

/** A run of consecutive k-mer window positions with one taxon.
  * Covers every k-mer slot of a fragment (NONE runs fill ambiguous regions
  * and the k-1 tail of each valid segment so window arithmetic stays exact). */
final case class HitRun(taxon: Int, start: Int, count: Int, distinct: Boolean)

/** Bracken-style weight generation: self-classify every read-length window of
  * every library genome against the index, count (source taxon -> destination
  * taxon) assignments (spec: reference slacken/BrackenWeights.scala — the
  * FragmentWindow incremental slide re-expressed over run-length hit runs).
  *
  * Width-independent: runs over any [[KeyedIndex]] via [[KeyedIndex.scanKeyed]]
  * (keys normalized to two longs; the narrow index pads with a zero word).
  *
  * Scale design: fragments are bounded (maxFragment with k-1 overlap), the
  * only shuffles are the minimizer->LCA join (one-sided on the bucketed index)
  * and the final (source,dest) count; the window slide is executor-local and
  * O(1) amortized per position.
  */
final class Bracken(val index: KeyedIndex, bcTax: Broadcast[Taxonomy]) extends Serializable {

  def this(params: IndexParams, bcTax: Broadcast[Taxonomy]) =
    this(new MinimizerIndex(params, bcTax), bcTax)

  val k: Int = index.kOf

  /** 128-bit content digest for the fragment regroup key (executor-local,
    * one pass per fragment — noise next to the two minimizer scans).
    * commons-codec ships with Spark (it backs the SQL md5() expression). */
  private def md5Hex(s: String): String =
    org.apache.commons.codec.digest.DigestUtils.md5Hex(s)

  /** Split genomes into bounded fragments overlapping by readLen-1, so every
    * read-length window lives in exactly one fragment (window starts in
    * [fragStart, fragStart + max - readLen] — consecutive fragments tile the
    * window-start space with no gap or double count). */
  def fragments(library: Dataset[(Int, String)], readLen: Int,
      maxFragment: Int = 100000): Dataset[(Int, String, String, Long)] = {
    require(maxFragment >= 2 * readLen, "maxFragment must be >= 2*readLen")
    val spark = library.sparkSession
    import spark.implicits._
    library.flatMap { case (taxon, seq) =>
      // the regroup key must be unique per genome CONTENT, not per taxon:
      // real libraries hold many genomes per taxon, and a taxon-keyed
      // header merged every taxon-mate's minimizer->LCA list into ONE
      // collect_list row that every fragment of the taxon then
      // deserialized (measured: 15.5 s of the g05 weights stage at sf0.1,
      // with group size growing unbounded in the library — a scale bug,
      // not just latency). A content digest keys identical genomes
      // together, which is harmless (identical content needs identical
      // maps) and bounds each group at ONE fragment's minimizers. The
      // digest must be stable across the two scans of the fragment frame
      // (minimizer derivation and the window join), which md5-of-content
      // is and a partition-dependent row id is not.
      val header = s"g$taxon-" + md5Hex(seq)
      if (seq.length <= maxFragment) Iterator((taxon, seq, header, 0L))
      else Iterator.range(0, seq.length - readLen + 1, maxFragment - (readLen - 1))
        .map { start =>
          val end = math.min(start + maxFragment, seq.length)
          (taxon, seq.substring(start, end), header, start.toLong)
        }
    }
  }

  /** Per-fragment ordered hit runs covering every k-mer slot: valid super-mers
    * get their index LCA; each valid segment gets a k-1 NONE tail; ambiguous
    * segments get NONE runs of their full length. The per-fragment lookup is
    * small (distinct minimizers of a bounded fragment), so a boxed pair map
    * is fine — the O(1)-per-position window slide below is the hot path. */
  private def hitRuns(seq: String,
      lcaOf: collection.Map[(Long, Long, Long, Long), Int]): Array[HitRun] = {
    val out = mutable.ArrayBuffer.empty[HitRun]
    var pos = 0
    var first = true
    var lastK1 = 0L
    var lastK2 = 0L
    var lastK3 = 0L
    var lastK4 = 0L
    for (run <- SupermerScanner.splitByAmbiguity(seq)) {
      if (run.valid && run.seq.length >= k) {
        for (sm <- index.scanKeyed(run.seq)) {
          val distinct = first || sm.k1 != lastK1 || sm.k2 != lastK2 ||
            sm.k3 != lastK3 || sm.k4 != lastK4
          first = false
          lastK1 = sm.k1; lastK2 = sm.k2; lastK3 = sm.k3; lastK4 = sm.k4
          out += HitRun(
            lcaOf.getOrElse((sm.k1, sm.k2, sm.k3, sm.k4), Taxonomy.NONE),
            pos + sm.start, sm.kmers, distinct)
        }
        out += HitRun(Taxonomy.NONE, pos + run.seq.length - (k - 1), k - 1, distinct = false)
      } else {
        out += HitRun(Taxonomy.NONE, pos, run.seq.length, distinct = false)
      }
      pos += run.seq.length
    }
    out.toArray
  }

  /** Narrow-key convenience wrapper over [[windowClassificationsKeyed]]. */
  def windowClassifications(seq: String, lcaOf: collection.Map[Long, Int],
      readLen: Int, resolver: LcaResolver): Iterator[(Int, Int)] =
    windowClassificationsKeyed(seq,
      lcaOf.map { case (m, t) => (m, 0L, 0L, 0L) -> t }, readLen, resolver)

  /** Slide a read-length window over the runs; classify each position.
    * Returns (destTaxon -> windowCount) for this fragment. */
  def windowClassificationsKeyed(seq: String,
      lcaOf: collection.Map[(Long, Long, Long, Long), Int],
      readLen: Int, resolver: LcaResolver): Iterator[(Int, Int)] = {
    if (seq.length < readLen) return Iterator.empty
    val runs = hitRuns(seq, lcaOf)
    val kmersPerWindow = readLen - (k - 1)
    val counts = mutable.Map.empty[Int, Int]
    var hitGroups = 0

    // taxon of the k-mer slot at an absolute position, via a run cursor
    final class Cursor { var i = 0 }
    def runAt(c: Cursor, p: Int): Int = {
      while (runs(c.i).start + runs(c.i).count <= p) c.i += 1
      c.i
    }
    val enter = new Cursor; val exit = new Cursor
    var enteredRun = -1

    def add(p: Int): Int = {
      val ri = runAt(enter, p)
      val r = runs(ri)
      counts(r.taxon) = counts.getOrElse(r.taxon, 0) + 1
      if (ri != enteredRun && r.distinct && r.taxon != Taxonomy.NONE) hitGroups += 1
      enteredRun = ri
      r.taxon
    }
    def remove(p: Int): Int = {
      val ri = runAt(exit, p)
      val r = runs(ri)
      val u = counts(r.taxon) - 1
      if (u > 0) counts(r.taxon) = u else counts.remove(r.taxon)
      // run fully passed once its last position exits
      if (p == r.start + r.count - 1 && r.distinct && r.taxon != Taxonomy.NONE)
        hitGroups -= 1
      r.taxon
    }

    var p = 0
    while (p < kmersPerWindow) { add(p); p += 1 }

    // Resolve memoization — the 64x head-to-head (r16) caught this path at
    // ~5 us/window against the reference's ~0.6 us: most slides exit and
    // enter the SAME taxon run (runs span whole super-mers), leaving the
    // count multiset and hit-group count untouched, so the classification
    // cannot change. Recompute only when the slide crossed a boundary that
    // moved a count (tIn != tOut) or toggled a hit group — O(#runs)
    // resolves per fragment instead of O(#windows).
    val nWindows = seq.length - readLen + 1
    var lastDest = Taxonomy.NONE
    var dirty = true
    Iterator.range(0, nWindows).map { start =>
      if (start > 0) {
        val hg0 = hitGroups
        val tOut = remove(start - 1)
        val tIn = add(start + kmersPerWindow - 1)
        if (tIn != tOut || hitGroups != hg0) dirty = true
      }
      if (dirty) {
        val scoring = counts.filter(kv => kv._1 != Taxonomy.NONE)
        lastDest =
          if (hitGroups < 2 || scoring.isEmpty) Taxonomy.NONE
          else resolver.resolveTree(scoring, 0.0)
        dirty = false
      }
      lastDest
    }.map((_, 1))
  }

  /** Full weight pipeline: fragments -> content-weighted dedup -> distinct
    * minimizers -> LCA join (one-sided on the bucketed index) -> regroup ->
    * window classify -> (source, dest, count).
    *
    * Two shapes matter at scale (both caught by the r16 64x head-to-head,
    * where this stage ran 212 s against the reference's 34 s):
    *  - CONTENT-WEIGHTED DEDUP: the fragment key is a content digest, so
    *    identical (taxon, content) fragments — replicated genomes, common
    *    in real libraries as identical plasmids/rRNA operons and total in
    *    the replicated tier — collapse to ONE window computation carrying
    *    a multiplicity, multiplied back into the counts. Exact, not an
    *    approximation: identical input windows classify identically.
    *  - PRIMITIVE-ARRAY COLLECT: the per-fragment minimizer->LCA map rides
    *    the shuffle as parallel Array[Long]/Array[Int] columns (a memcopy
    *    through the Tungsten array codec), not a Seq[tuple5] whose decoder
    *    boxes five fields per element (the measured 170 s hotspot of a
    *    172 s stage: 165M boxed elements at the 64x tier). Since r17 the
    *    five arrays come from ONE CollectAligned aggregate, so their
    *    index-alignment is structural rather than an artifact of Spark's
    *    cross-aggregate row-order behavior. */
  def weights(library: Dataset[(Int, String)], records: DataFrame, readLen: Int,
      maxFragment: Int = 100000): DataFrame = {
    val spark = library.sparkSession
    import spark.implicits._
    val frags = fragments(library, readLen, maxFragment)
      .toDF("taxon", "seq", "header", "location")
    // one row per distinct fragment CONTENT (header digests taxon+content),
    // weight = how many library rows carry it. BOTH consumers (the mins
    // scan and the window join) read the deduped frame: scanning the
    // pre-dedup frame instead would be plan-prettier (one groupBy subtree)
    // but pushes the duplicate entries into the LCA join + collect and the
    // per-fragment map builds — measured 23.3 s vs 4.6 s at the 64x tier
    // (r16 stage profile). The subtree runs TWICE at runtime — column
    // pruning gives the two consumers different aggregate shapes
    // (first(taxon)+first(seq)+count vs first(seq) only), so the exchange
    // is NOT reusable (verified r16 on the sf0.001 g05 lane: 0
    // ReusedExchange nodes in the final adaptive plan). The duplicate
    // cheap payload shuffle is still a net win vs scanning the pre-dedup
    // frame; PlanBudgetSpec's g05 budget (6 exchanges) documents the same.
    val fragsU = frags.groupBy($"header", $"location")
      .agg(first($"taxon").as("taxon"), first($"seq").as("seq"),
        count(lit(1)).as("weight"))

    // distinct minimizer keys per fragment (four-long normalized; the DF
    // keeps only the index's real key columns)
    val idx = index
    val kk = k
    val nKeys = idx.keyCols.size
    val mins = fragsU.select($"header", $"location", $"seq").as[(String, Long, String)]
      .flatMap { case (h, loc, seq) =>
        val set = mutable.HashSet.empty[(Long, Long, Long, Long)]
        SupermerScanner.splitByAmbiguity(seq).foreach { run =>
          if (run.valid && run.seq.length >= kk)
            idx.scanKeyed(run.seq).foreach(sm =>
              set += ((sm.k1, sm.k2, sm.k3, sm.k4)))
        }
        set.iterator.map { case (a, b, c, d) => (h, loc, a, b, c, d) }
      }.toDF("header", "location", "id1", "id2", "id3", "id4")
    val minsKeyed = mins.drop(Seq("id2", "id3", "id4").drop(nKeys - 1): _*)

    // LCA lookup via the index (records side pre-bucketed: no index shuffle)
    def keyOrZero(i: Int) =
      if (i <= nKeys) col(s"id$i") else lit(0L)
    // ONE CollectAligned aggregate emits the five parallel primitive arrays
    // from a single buffer — structurally aligned, unlike r16's five
    // parallel collect_lists which leaned on Spark's undocumented
    // cross-aggregate row-order behavior. Decode stays a memcopy
    // (UnsafeArrayData.fromPrimitiveArray per field, no boxed structs).
    val hitsFn = graft.functions.CollectAligned.register(spark,
      Seq("mk1", "mk2", "mk3", "mk4", "mtaxa"))
    val lcas = minsKeyed.join(records, idx.keyCols, "left")
      .groupBy($"header", $"location")
      .agg(graft.functions.CollectAligned(hitsFn,
        keyOrZero(1), keyOrZero(2), keyOrZero(3), keyOrZero(4),
        coalesce($"taxon", lit(Taxonomy.NONE))).as("hits"))
      .select($"header", $"location",
        $"hits.mk1".as("mk1"), $"hits.mk2".as("mk2"),
        $"hits.mk3".as("mk3"), $"hits.mk4".as("mk4"),
        $"hits.mtaxa".as("mtaxa"))

    val bc = bcTax
    fragsU.join(lcas, Seq("header", "location"), "left")
      .select($"taxon", $"seq", $"weight", $"mk1", $"mk2", $"mk3", $"mk4", $"mtaxa")
      .as[(Int, String, Long, Array[Long], Array[Long], Array[Long],
        Array[Long], Array[Int])]
      .flatMap { case (source, seq, weight, k1s, k2s, k3s, k4s, taxa) =>
        val lcaOf = mutable.HashMap.empty[(Long, Long, Long, Long), Int]
        if (k1s != null) {
          var i = 0
          while (i < k1s.length) {
            lcaOf((k1s(i), k2s(i), k3s(i), k4s(i))) = taxa(i)
            i += 1
          }
        }
        val resolver = new LcaResolver(bc.value)
        // aggregate per fragment BEFORE the encoder: a fragment has at most
        // a handful of distinct destinations, so this emits one Tungsten
        // row per (fragment, dest) instead of one per window
        val perDest = mutable.Map.empty[Int, Long]
        windowClassificationsKeyed(seq, lcaOf, readLen, resolver)
          .foreach { case (dest, c) =>
            perDest(dest) = perDest.getOrElse(dest, 0L) + c }
        perDest.iterator.map { case (dest, c) => (source, dest, c * weight) }
      }
      .toDF("source", "dest", "n")
      .groupBy($"source", $"dest")
      .agg(sum($"n").cast("long").as("reads"))
  }

  /** Fault-tolerant chunked weight build: the library is processed in
    * `chunks` pieces, each written to its OWN overwritten parquet directory
    * (complete iff its _SUCCESS marker exists) — a lost driver resumes from
    * the chunks already on disk and a chunk that crashed mid-write is
    * replaced, never double-counted
    * (spec: S15 checkpoint-by-append, BrackenWeights.scala:359-374). */
  def weightsGradually(library: Dataset[(Int, String)], records: DataFrame,
      readLen: Int, checkpointPath: String, chunks: Int = 5): DataFrame = {
    val spark = library.sparkSession
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(checkpointPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one parquet DIRECTORY per chunk, written with overwrite: a chunk is
    // complete iff its own _SUCCESS marker exists, and re-running a chunk
    // that crashed mid-write replaces it instead of double-appending (an
    // append + separate marker has a window where committed data lacks the
    // marker and gets appended twice on resume)
    var reused = 0
    for (c <- 0 until chunks) {
      val chunkDir = s"$checkpointPath/chunk$c"
      val success = new org.apache.hadoop.fs.Path(chunkDir, "_SUCCESS")
      if (fs.exists(success)) reused += 1
      else {
        val part = library.filter(g => math.abs(g._1.hashCode % chunks) == c)
        weights(part, records, readLen)
          .write.mode("overwrite").parquet(chunkDir)
      }
    }
    if (reused > 0)
      // completed chunks are trusted blindly: a checkpoint from a DIFFERENT
      // library/readLen would be served as-is — callers changing inputs must
      // change (or clean) the checkpoint path
      println(s"[bracken] resuming: $reused/$chunks chunks served from " +
        s"$checkpointPath")
    spark.read.parquet((0 until chunks).map(c => s"$checkpointPath/chunk$c"): _*)
      .groupBy($"source", $"dest")
      .agg(sum($"reads").cast("long").as("reads"))
  }

  /** Render bracken-build-style lines: per destination taxon, the list of
    * source:count:fraction triples (spec: BrackenWeights.scala:377-414). */
  def weightLines(w: DataFrame): DataFrame = {
    val spark = w.sparkSession
    import spark.implicits._
    val bySource = w.groupBy($"source").agg(sum($"reads").as("sourceTotal"))
    w.join(bySource, "source")
      .withColumn("frac", $"reads".cast("double") / $"sourceTotal".cast("double"))
      .groupBy($"dest")
      .agg(sort_array(collect_list(struct($"source", $"reads", $"frac"))).as("triples"))
      .select($"dest", concat_ws(" ", transform($"triples",
        t => concat_ws(":", t("source"), t("reads"), round(t("frac"), 6)))).as("line"))
  }
}
