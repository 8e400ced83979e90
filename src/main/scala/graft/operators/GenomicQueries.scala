package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{IndexParams, MinimizerIndex}
import graft.sources.InputFragment
import graft.taxa.Taxonomy
import Q.t

/** The flagship domain pipeline (minimizer extraction, LCA index build,
  * read classification) exercised inside the driver harness. DNA is derived
  * deterministically from the relational tables (md5 hex -> ACGT via
  * `translate`), so the same pipeline that the ScalaTest golden specs verify
  * also runs against the driver's parquet inputs at every scale factor.
  * Rows-only checks (the ops are not ANSI-SQL-expressible).
  */
object GenomicQueries {

  /** Prepared state for one staged bench entry: [[classify]] builds a FRESH
    * classify-stage DataFrame per invocation (reps re-run the stage, never a
    * cached result); [[cleanup]] drops the prepared caches. [[phases]]
    * breaks the prepare (build) wall time into named sub-phases — e.g.
    * "ordering" (frequency demotion-set derivation), "records" (index
    * record build + materialize), "reads" (read derivation) — so a
    * round-over-round build regression names the regressing phase instead
    * of hiding inside a build-dominated total (r17 verdict ask #5). */
  final case class StagedRun(classify: () => DataFrame, cleanup: () => Unit,
      phases: Map[String, Double] = Map.empty)

  /** Time one named build sub-phase into `phases` (accumulating). */
  private def phased[T](phases: collection.mutable.Map[String, Double],
      name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  private val HEX2DNA: (String, String) = ("0123456789abcdef", "AAAACCCCGGGGTTTT")

  /** 128 bp of deterministic DNA from a string column (4 chained md5s). */
  private[graft] def dnaCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(
      concat(md5(c.cast("binary")),
        md5(concat(c, lit("x")).cast("binary")),
        md5(concat(c, lit("y")).cast("binary")),
        md5(concat(c, lit("z")).cast("binary"))),
      HEX2DNA._1, HEX2DNA._2)

  /** Taxonomy over the star dims: root <- regions (2..6) <- nations (10..34). */
  private[graft] def starTaxonomy(s: SparkSession, dir: String): Taxonomy = {
    val nations = t(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey").collect()
    val regions = t(s, dir, "region").select("r_regionkey", "r_name").collect()
    Taxonomy.fromTuples(
      regions.map(r => (2 + r.getInt(0), 1, "kingdom", r.getString(1))).toSeq ++
        nations.map(n =>
          (10 + n.getInt(0), 2 + n.getInt(2), "species", n.getString(1))).toSeq)
  }

  private val params = IndexParams(k = 35, m = 31, spaces = 7, buckets = 32)

  /** Orders fact scan, fanned out to the session parallelism when the local
    * single-row-group file under-splits (identity at any at-scale layout —
    * [[Q.fanOut]]): every read derivation feeds the md5 substring + span
    * scan kernels, which otherwise run on ONE core before the first
    * exchange (measured r21: g03 span stage 3.3 s single-task, lane
    * parallel floor 0.76 s). */
  private[operators] def ordersScan(s: SparkSession, dir: String): DataFrame =
    Q.fanOut(t(s, dir, "orders"), col("o_orderkey"))

  /** Customer genomes: (taxon = 10 + nationkey, 128 bp dna from c_name).
    * Fanned out like [[ordersScan]]: the library scan feeds the 4-md5
    * genome derivation and the leaf-pair minimizer scan. */
  private[operators] def customerGenomes(s: SparkSession, dir: String): DataFrame =
    Q.fanOut(t(s, dir, "customer"), col("c_custkey"))
      .select((col("c_nationkey") + 10).cast("int").as("taxon"),
        dnaCol(col("c_name")).as("dna"), col("c_name"))

  /** (c_custkey, c_nationkey, dna) with the 4-md5 genome derivation computed
    * ONCE PER CUSTOMER before any fact join — Catalyst does not push partial
    * expressions through joins, so deriving dna after orders ⋈ customer
    * would recompute the hashes per ORDER row (10x the rows). */
  private def customerDna(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), dnaCol(col("c_name")).as("dna"))

  /** Staged variants of the genomic bench entries (r6 verdict): the headline
    * g-numbers time index construction + classification together, and the
    * build dominates — the in-memory path's zero-shuffle classify stage was
    * invisible in them (g11 read ≈ g03 within noise). Here each entry's
    * `prepare` thunk builds and MATERIALIZES everything the classify stage
    * consumes — the LCA records (persisted + counted), the derived reads
    * (persisted post-derivation, so the md5 synthesis is excluded), and for
    * the in-memory entries the broadcast open-addressing table — and its
    * wall time is reported as the build stage; the classify thunk is then
    * timed alone per rep. The headline totals keep the combined semantics
    * for round-over-round continuity. */
  def stagedBench(s: SparkSession, dir: String): Seq[(String, () => StagedRun)] = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    import graft.index.ClassifiedRead
    import org.apache.spark.sql.Dataset

    def materialize(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    }
    // records that feed the per-rep classify JOIN are cached sorted on the
    // key columns (r21): the LCA fold already leaves them hash-partitioned
    // by the keys, and the in-memory cache preserves ordering too — so
    // every timed classify rep's sort-merge join skips both the exchange
    // AND the sort on the records side instead of re-sorting the same
    // cached records per rep
    def materializeSorted(df: DataFrame, keys: Seq[String]): DataFrame =
      materialize(df.sortWithinPartitions(keys.map(col): _*))
    def readsDs(mod: Int, len: Int): Dataset[InputFragment] = {
      val ds = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % mod) + 1).cast("int"),
            lit(len)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      ds.count(); ds
    }
    def agg(ds: Dataset[ClassifiedRead]): DataFrame = ds
      .groupBy($"taxon".cast("long").as("taxon"))
      .agg(count(lit(1)).cast("long").as("n_reads"))
      .orderBy($"taxon")
    def lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]

    Seq(
      // the bucketed-join scale path, narrow keys: classify stage = span
      // extraction + one-sided join + per-read resolve + count
      "g03_classify" -> (() => {
        val ph = collection.mutable.LinkedHashMap.empty[String, Double]
        val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
        val index = new MinimizerIndex(params, bcTax)
        val records = phased(ph, "records")(
          materializeSorted(index.makeRecords(lib), index.keyCols))
        val reads = phased(ph, "reads")(readsDs(80, 44))
        StagedRun(
          () => agg(index.classify(index.spans(reads), records,
            confidence = 0.0, minHitGroups = 1, detail = false)),
          () => { records.unpersist(false); reads.unpersist(false)
            bcTax.destroy(); () }, ph.toMap)
      }),
      // the same reads through the zero-shuffle broadcast-table path: the
      // table build (collect + open addressing + broadcast) is build stage
      "g11_mem_classify" -> (() => {
        val ph = collection.mutable.LinkedHashMap.empty[String, Double]
        val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
        val index = new MinimizerIndex(params, bcTax)
        val mem = phased(ph, "table")(
          index.inMemoryClassifier(index.makeRecords(lib)))
        val reads = phased(ph, "reads")(readsDs(80, 44))
        StagedRun(
          () => agg(mem.classify(reads, confidence = 0.0, minHitGroups = 1,
            detail = false)),
          // close(): the broadcast open-addressing table would otherwise
          // stay pinned for the rest of the bench process
          () => { reads.unpersist(false); mem.close(); bcTax.destroy(); () },
          ph.toMap)
      }),
      // wide (m=40, two-long keys) join path
      "g07_wide_classify" -> (() => {
        val ph = collection.mutable.LinkedHashMap.empty[String, Double]
        val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
        val index = new graft.index.WideMinimizerIndex(k = 50, m = 40, bcTax)
        val records = phased(ph, "records")(
          materializeSorted(index.makeRecords(lib), index.keyCols))
        val reads = phased(ph, "reads")(readsDs(60, 56))
        StagedRun(
          () => agg(index.classify(index.spans(reads), records,
            minHitGroups = 1, detail = false)),
          () => { records.unpersist(false); reads.unpersist(false)
            bcTax.destroy(); () }, ph.toMap)
      }),
      // wide in-memory path
      "g12_mem_wide_classify" -> (() => {
        val ph = collection.mutable.LinkedHashMap.empty[String, Double]
        val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
        val index = new graft.index.WideMinimizerIndex(k = 50, m = 40, bcTax)
        val mem = phased(ph, "table")(
          index.inMemoryClassifier(index.makeRecords(lib)))
        val reads = phased(ph, "reads")(readsDs(60, 56))
        StagedRun(
          () => agg(mem.classify(reads, minHitGroups = 1, detail = false)),
          () => { reads.unpersist(false); mem.close(); bcTax.destroy(); () },
          ph.toMap)
      }),
      // m=64 frequency-ordered path (r9 verdict): the two-long-key packing
      // plus the demoted-set broadcast is the 100x-relevant configuration
      // for large m — its classify stage was previously only oracled (g13),
      // never timed. Build stage = frequency counting + demotion set +
      // record materialization; classify stage = wide spans ⋈ records.
      "g13_wide64_freq_classify" -> (() => {
        val ph = collection.mutable.LinkedHashMap.empty[String, Double]
        val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
        val packed = lib.map { case (tx, dna) =>
          (tx, graft.kmers.Dna.pack2bit(dna), dna.length)
        }
        // session-memoized (r16 verdict ask #3): the counting scan runs
        // once per (library, params) per session — the first rep pays it,
        // later reps (and a real session's repeat builds) reload. The
        // "ordering" phase stamp makes the memo visible: ~0 on a hit.
        val demoted = phased(ph, "ordering")(
          graft.index.FrequencyOrdering.sessionTopMers(
            s"customerGenomes:$dir:wide64", packed, 64, fraction = 1.0,
            topN = 65536))
        val index = new graft.index.WideMinimizerIndex(k = 66, m = 64, bcTax,
          0, demoted)
        val records = phased(ph, "records")(
          materializeSorted(index.makeRecords(lib), index.keyCols))
        val reads = phased(ph, "reads")(readsDs(40, 72))
        StagedRun(
          () => agg(index.classify(index.spans(reads), records,
            minHitGroups = 1, detail = false)),
          () => { records.unpersist(false); reads.unpersist(false)
            bcTax.destroy(); () }, ph.toMap)
      }),
      // the 2-step dynamic path (the reference's flagship workflow — r11
      // verdict ask: oracled but never benched). Build stage = static
      // index records + derived reads; classify stage = the WHOLE dynamic
      // pass (evidence join, taxon selection, sub-index re-fold, final
      // classify), its internal caches released inside the rep so reps
      // stay independent
      "g04_classify2" -> (() => {
        val ph = collection.mutable.LinkedHashMap.empty[String, Double]
        val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
        val dyn = new graft.index.DynamicClassifier(params, bcTax)
        // leaf pairs materialized beside the static fold (r21): the
        // classify stage's sub-index re-folds them instead of re-extracting
        val leafPairs = phased(ph, "leaf_pairs")(
          materialize(dyn.index.buildLeafPairs(lib)))
        val staticRecords = phased(ph, "records")(
          materialize(dyn.index.foldLeafPairs(leafPairs)))
        val reads = ordersScan(s, dir)
          .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
          .filter($"c_nationkey" % 2 === 0)
          .select($"o_orderkey",
            substring($"dna", (($"o_orderkey" % 80) + 1).cast("int"),
              lit(44)).as("read"))
          .as[(Long, String)]
          .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
          .persist(StorageLevel.MEMORY_AND_DISK)
        phased(ph, "reads")(reads.count())
        StagedRun(
          () => {
            val (classified, _, release) = dyn.classify2(reads, lib,
              staticRecords, criterion = graft.index.DistinctMinimizers,
              rank = "species", threshold = 50, minHitGroups = 1,
              detail = false, staticLeafPairs = Some(leafPairs))
            val counts = agg(classified).localCheckpoint(true)
            release()
            counts
          },
          () => { staticRecords.unpersist(false); leafPairs.unpersist(false)
            reads.unpersist(false); bcTax.destroy(); () }, ph.toMap)
      }),
      // bracken weights (r11 verdict ask: oracled, never benched). Build
      // stage = LCA records; weights stage = fragment scan + one-sided LCA
      // join + O(1) window slide + per-(source,dest) count
      "g05_bracken" -> (() => {
        val ph = collection.mutable.LinkedHashMap.empty[String, Double]
        val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
        val index = new MinimizerIndex(params, bcTax)
        val bracken = new graft.index.Bracken(params, bcTax)
        val records = phased(ph, "records")(materialize(index.makeRecords(lib)))
        StagedRun(
          () => bracken.weights(lib, records, readLen = 64)
            .select($"source".cast("long").as("source"),
              $"dest".cast("long").as("dest"), $"reads")
            .orderBy($"source", $"dest"),
          () => { records.unpersist(false); bcTax.destroy(); () }, ph.toMap)
      }),
      // extra-wide (m=96, three-long keys) join path
      "g14_xwide_classify" -> (() => {
        val ph = collection.mutable.LinkedHashMap.empty[String, Double]
        val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
        val index = new graft.index.WideMinimizerIndex(k = 100, m = 96, bcTax)
        val records = phased(ph, "records")(
          materializeSorted(index.makeRecords(lib), index.keyCols))
        val reads = phased(ph, "reads")(readsDs(16, 112))
        StagedRun(
          () => agg(index.classify(index.spans(reads), records,
            minHitGroups = 1, detail = false)),
          () => { records.unpersist(false); reads.unpersist(false)
            bcTax.destroy(); () }, ph.toMap)
      }))
  }

  val queries: Seq[Q] = Seq(
    // supermer/minimizer extraction over derived DNA
    Q("g01_supermer_spans", (s, dir) => {
      import s.implicits._
      val scanner = params.scanner
      t(s, dir, "documents")
        .select($"doc_id", dnaCol($"text").as("dna"))
        .as[(Long, String)]
        .map { case (id, dna) =>
          val sms = scanner.scan(dna).toVector
          (id, sms.length.toLong, sms.map(_.kmers.toLong).sum,
            sms.map(_.minimizer).distinct.length.toLong)
        }
        .toDF("doc_id", "n_spans", "n_kmers", "n_distinct_minimizers")
        .orderBy($"doc_id")
    }, Some(Q.golden("g01_spans_sf001.tsv", "doc_id" -> "BIGINT",
      "n_spans" -> "BIGINT", "n_kmers" -> "BIGINT",
      "n_distinct_minimizers" -> "BIGINT"))),

    // index build: flatMap minimizers -> LCA fold -> per-taxon record counts
    Q("g02_lca_index", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new MinimizerIndex(params, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna")
        .as[(Int, String)]
      index.makeRecords(lib)
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_minimizers"))
        .orderBy($"taxon")
    }, Some(Q.golden("g02_lca_sf001.tsv", "taxon" -> "BIGINT",
      "n_minimizers" -> "BIGINT")), bench = true),

    // 2-step dynamic classification: evidence -> taxon selection -> rebuild
    Q("g04_classify2", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val dyn = new graft.index.DynamicClassifier(params, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      // leaf pairs cached once: the static records fold from them AND the
      // sub-index re-fold reads them back (r21 — the sub-index previously
      // re-extracted the library's minimizers from scratch; LCA over the
      // distinct pair set is identical to LCA over the raw multiset)
      val leafPairs = dyn.index.buildLeafPairs(lib)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val staticRecords = dyn.index.foldLeafPairs(leafPairs)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        // only orders of even nations: half the taxa are absent from the sample
        .filter($"c_nationkey" % 2 === 0)
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % 80) + 1).cast("int"),
            lit(44)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
      val (classified, _, release) = dyn.classify2(reads, lib, staticRecords,
        criterion = graft.index.DistinctMinimizers, rank = "species",
        threshold = 50, minHitGroups = 1, detail = false,
        staticLeafPairs = Some(leafPairs))
      // localCheckpoint materializes the (small) per-taxon counts so the
      // internal spans/records caches can be released before returning —
      // without it they would outlive this query for the whole harness run
      val counts = classified
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"taxon")
        .localCheckpoint(true)
      release()
      leafPairs.unpersist(false)
      counts
    }, Some(Q.goldenTaxonReads("g04_classify2_sf001.tsv")), bench = true),

    // bracken-style abundance weights: self-classify genome windows
    Q("g05_bracken", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new MinimizerIndex(params, bcTax)
      val bracken = new graft.index.Bracken(params, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val records = index.makeRecords(lib)
      bracken.weights(lib, records, readLen = 64)
        .select($"source".cast("long").as("source"),
          $"dest".cast("long").as("dest"), $"reads")
        .orderBy($"source", $"dest")
    }, Some(Q.golden("g05_bracken_sf001.tsv", "source" -> "BIGINT",
      "dest" -> "BIGINT", "reads" -> "BIGINT"))),

    // index statistics + respace: depth histogram of the re-spaced index
    Q("g06_index_stats", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new MinimizerIndex(params, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val records = index.makeRecords(lib)
      val respaced = graft.index.IndexOps.respace(records, params, 10, bcTax)
      graft.index.IndexOps.depthHistogram(respaced, bcTax)
        .select($"depth".cast("long").as("depth"), $"n_minimizers")
        .orderBy($"depth")
    }, Some(Q.golden("g06_stats_sf001.tsv", "depth" -> "BIGINT",
      "n_minimizers" -> "BIGINT"))),

    // multi-sample classification: sample extracted from read titles by regex
    Q("g08_multisample", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new MinimizerIndex(params, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val records = index.makeRecords(lib)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"o_orderpriority",
          substring($"dna", (($"o_orderkey" % 80) + 1).cast("int"),
            lit(44)).as("read"))
        .as[(Long, String, String)]
        .map { case (ok, pri, read) =>
          InputFragment(s"S${pri.take(1)}R$ok", 0L, read, None)
        }
      graft.index.IndexOps.classifyMultiSample(index, reads, records,
          sampleRegex = "(S\\d)R", confidence = 0.0, minHitGroups = 1)
        .select($"sample", $"taxon".cast("long").as("taxon"), $"n_reads")
        .orderBy($"sample", $"taxon")
    }, Some(Q.golden("g08_multisample_sf001.tsv", "sample" -> "VARCHAR",
      "taxon" -> "BIGINT", "n_reads" -> "BIGINT"))),

    // per-sample two-step classification: sample = order priority class,
    // each sample's reads drawn from a DIFFERENT nation slice (nation % 5 =
    // priority digit - 1) so every sample earns its own taxon selection and
    // tailored sub-index — all in one distributed pass.
    // NOTE: graft.tools.G10Profile replicates this lane's derivations
    // verbatim for per-phase timing — keep the two in sync when changing
    // the filter, substring window, params, or selection arguments.
    Q("g10_multisample_classify2", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val dyn = new graft.index.DynamicClassifier(params, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      // leaf pairs cached once, shared by the static fold and the per-group
      // sub-index re-fold (r21 — see g04's note; identical records)
      val leafPairs = dyn.index.buildLeafPairs(lib)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val staticRecords = dyn.index.foldLeafPairs(leafPairs)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .filter(($"c_nationkey" % 5) ===
          substring($"o_orderpriority", 1, 1).cast("int") - 1)
        .select($"o_orderkey", $"o_orderpriority",
          substring($"dna", (($"o_orderkey" % 80) + 1).cast("int"),
            lit(44)).as("read"))
        .as[(Long, String, String)]
        .map { case (ok, pri, read) =>
          InputFragment(s"S${pri.take(1)}R$ok", 0L, read, None)
        }
      val (classified, _, release) = dyn.classify2MultiSample(reads, "(S\\d)R",
        lib, staticRecords, criterion = graft.index.DistinctMinimizers,
        rank = "species", threshold = 50, minHitGroups = 1, detail = false,
        staticLeafPairs = Some(leafPairs))
      val counts = classified
        .groupBy(regexp_extract($"title", "(S\\d)R", 1).as("sample"),
          $"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"sample", $"taxon")
        .localCheckpoint(true)
      release()
      leafPairs.unpersist(false)
      counts
    }, Some(Q.golden("g10_multisample2_sf001.tsv", "sample" -> "VARCHAR",
      "taxon" -> "BIGINT", "n_reads" -> "BIGINT")), bench = true),

    // wide-minimizer path (m=40 > 32: two-long keys) end to end, through the
    // unified per-read protocol (ordinals, flags, paired-end mate border)
    Q("g07_wide_classify", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new graft.index.WideMinimizerIndex(k = 50, m = 40, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val records = index.makeRecords(lib)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % 60) + 1).cast("int"),
            lit(56)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
      index.classify(index.spans(reads), records, minHitGroups = 1,
          detail = false)
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"taxon")
    }, Some(Q.goldenTaxonReads("g07_wide_sf001.tsv")), bench = true),

    // extra-wide minimizer path (m=96 > 64: three-long keys, fully-populated
    // top word) end to end — the reference's idLongs=ceil(m/32) scheme at
    // width 3, through the same unified per-read protocol; golden derived by
    // an independent 192-bit-int Python kernel (tools/golden_g14.py)
    Q("g14_xwide_classify", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new graft.index.WideMinimizerIndex(k = 100, m = 96, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val records = index.makeRecords(lib)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % 16) + 1).cast("int"),
            lit(112)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
      index.classify(index.spans(reads), records, minHitGroups = 1,
          detail = false)
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"taxon")
    }, Some(Q.goldenTaxonReads("g14_xwide_sf001.tsv")), bench = true),

    // frequency-ordered index (sampled top-mer demotion) end to end: the
    // demoted ordering must reproduce at classify time or keys stop
    // matching. topN=65536 (~45% of the library's distinct mers) is chosen
    // so the stored index genuinely carries DEMOTE-flagged keys (~2.2k of
    // 47k records at sf0.01) — at the old topN=512 NO demoted mer ever won
    // a window, so a classify-time ordering desync was invisible; now it
    // unclassifies hundreds of reads (probed: delta 534). fraction=1.0
    // keeps the counting pass deterministic under any partitioning.
    Q("g09_freq_classify", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val base = new MinimizerIndex(params, bcTax)
      val demoted = graft.index.FrequencyOrdering.sessionTopMers(
        s"customerGenomes:$dir:narrow", base.packLibrary(lib), params.m,
        fraction = 1.0, topN = 65536)
      val index = new MinimizerIndex(params.copy(demoted = Some(demoted)), bcTax)
      val records = index.makeRecords(lib)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % 80) + 1).cast("int"),
            lit(44)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
      index.classify(index.spans(reads), records, minHitGroups = 1,
          detail = false)
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"taxon")
    }, Some(Q.goldenTaxonReads("g09_freq_sf001.tsv"))),

    // m=64 frequency-demoted classification: the widest key has no spare
    // bit for the demote flag, so the scanner consults the demotion set at
    // COMPARE time (the out-of-band rank lane of graft.kmers.WidePriority)
    // — the one ordering path no other gate query exercises end to end. topN=65536 demotes ~2/3 of the library's distinct wide mers, so
    // demotion genuinely changes which m-mers win windows: a build/classify
    // ordering desync changes the selected keys and fails the golden.
    Q("g13_wide64_freq_classify", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      // genomes are ambiguity-free 128 bp: pack2bit directly (the CLI path
      // goes through packLibrary's ambiguity split for real FASTA)
      val packed = lib.map { case (t, dna) =>
        (t, graft.kmers.Dna.pack2bit(dna), dna.length)
      }
      val demoted = graft.index.FrequencyOrdering.sessionTopMers(
        s"customerGenomes:$dir:wide64", packed, 64, fraction = 1.0,
        topN = 65536)
      val index = new graft.index.WideMinimizerIndex(k = 66, m = 64, bcTax,
        0, demoted)
      val records = index.makeRecords(lib)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % 40) + 1).cast("int"),
            lit(72)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
      index.classify(index.spans(reads), records, minHitGroups = 1,
          detail = false)
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"taxon")
    }, Some(Q.goldenTaxonReads("g13_wide64_freq_sf001.tsv")), bench = true),

    // g03's classification through the zero-shuffle in-memory path: the
    // records collect into a broadcast open-addressing table and scan +
    // lookup + resolve fuse into ONE mapPartitions (the resident-hash-table
    // execution model for indexes that fit memory; the g03 join remains the
    // measured scale path). Row-identical to g03 — the golden spec pins
    // this query against g03's own golden file.
    Q("g11_mem_classify", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new MinimizerIndex(params, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val records = index.makeRecords(lib)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % 80) + 1).cast("int"),
            lit(44)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
      index.classifyInMemory(reads, records, confidence = 0.0,
          minHitGroups = 1, detail = false)
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"taxon")
    }, Some(Q.goldenTaxonReads("g03_classify_sf001.tsv")), bench = true),

    // the wide (m=40) pipeline through the same in-memory path, pinned to
    // g07's golden
    Q("g12_mem_wide_classify", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new graft.index.WideMinimizerIndex(k = 50, m = 40, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val records = index.makeRecords(lib)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % 60) + 1).cast("int"),
            lit(56)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
      index.classifyInMemory(reads, records, minHitGroups = 1, detail = false)
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"taxon")
    }, Some(Q.goldenTaxonReads("g07_wide_sf001.tsv")), bench = true),

    // classification: reads are genome substrings addressed by orders
    Q("g03_classify", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new MinimizerIndex(params, bcTax)
      val lib = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val records = index.makeRecords(lib)
      val reads = ordersScan(s, dir)
        .join(customerDna(s, dir), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey",
          substring($"dna", (($"o_orderkey" % 80) + 1).cast("int"),
            lit(44)).as("read"))
        .as[(Long, String)]
        .map { case (ok, read) => InputFragment(s"order$ok", 0L, read, None) }
      index.classify(index.spans(reads), records, confidence = 0.0,
          minHitGroups = 1, detail = false)
        .groupBy($"taxon".cast("long").as("taxon"))
        .agg(count(lit(1)).cast("long").as("n_reads"))
        .orderBy($"taxon")
    }, Some(Q.goldenTaxonReads("g03_classify_sf001.tsv")), bench = true),

    // index migration (J7 reference semantics, MinimizerMigration.scala:
    // 44-71): subject = the plain nation-labeled index; reference = the
    // same library PLUS every 7th genome relabeled to the next nation —
    // those minimizers' LCAs fold up to the shared region (rank steps
    // 8 - 2 = 6) or to root (8 - 0 = 8) in the reference, everything else
    // stays put (0). `steps` counts rank-LADDER levels (nation=species
    // depth 8, region=kingdom 2, root 0), exactly the reference's
    // Taxonomy.depth semantics. Oracle: independent Python kernel
    // (tools/golden_g15.py) re-derives both folds and the histogram.
    Q("g15_index_migration", (s, dir) => {
      import s.implicits._
      val bcTax = s.sparkContext.broadcast(starTaxonomy(s, dir))
      val index = new MinimizerIndex(params, bcTax)
      val full = customerGenomes(s, dir).select($"taxon", $"dna").as[(Int, String)]
      val dup = Q.fanOut(t(s, dir, "customer"), col("c_custkey"))
        .filter($"c_custkey" % 7 === 0)
        .select(((($"c_nationkey" + 1) % 25) + 10).cast("int").as("taxon"),
          dnaCol(col("c_name")).as("dna"))
        .as[(Int, String)]
      graft.index.IndexOps.migrationPairs(
          index.makeRecords(full), index.makeRecords(full.union(dup)),
          bcTax, index.keyCols)
        .groupBy($"steps")
        .agg(count(lit(1)).cast("long").as("n"))
        .select($"steps".cast("long").as("steps"), $"n")
        .orderBy($"steps")
    }, Some(Q.golden("g15_migration_sf001.tsv",
      "steps" -> "BIGINT", "n" -> "BIGINT")))
  )
}
