package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.index._
import graft.sources.Sequences

/** Where one run's inputs and scratch space live, and its Spark session. */
final class Ctx(val inputs: File, val work: File) {
  var spark: SparkSession = _
  def in(p: String): String = new File(inputs, p).getAbsolutePath
  def wk(p: String): String = new File(work, p).getAbsolutePath
}

/** Output checks of one op. `recall`/`precision` are the workload's two
  * accuracy figures; any entry in `failures` fails the op. */
final case class Check(failures: Seq[String], recall: Double, precision: Double)

/** One user workload: the CLI call it times, the state it prebuilds in
  * set-up, the checks on every output, and the same pipeline spelled out
  * layer by layer for the traced run. */
abstract class Workload(val name: String) {
  /** Prebuilt state the timed op needs (timed as set-up). */
  def prepare(ctx: Ctx): Unit = ()
  def cliArgs(ctx: Ctx, out: String): Array[String]
  /** `cliStdout` is None for traced ops, which bypass the CLI. */
  def check(ctx: Ctx, out: String, cliStdout: Option[String]): Check
  /** The prebuilt state again, with a span around each layer call. */
  def tracedPrepare(ctx: Ctx, tr: Tracer): Map[String, Double] = Map.empty
  /** The op again, with a span around each layer call; returns layer counts.
    * Its output must pass [[check]] with no CLI stdout. */
  def traced(ctx: Ctx, tr: Tracer, rep: Int, out: String): Map[String, Double]
  /** Throughput in the workload's own units, given the median op time. */
  def native(ctx: Ctx, opS: Double): Seq[(String, Double)]
}

object Workloads {
  val Lvl = StorageLevel.MEMORY_AND_DISK

  def byName(n: String): Workload = n match {
    case "classify_join" => ClassifyJoin
    case "curate_text" => CurateText
    case other => sys.error(s"unknown workload: $other")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirMb(f: File): Double =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirMb).sum).getOrElse(0.0)
    else f.length / 1048576.0

  /** Runs the CLI in this JVM and returns what it printed. */
  def cli(args: Array[String]): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf, true, "UTF-8")
    Console.withOut(ps) { graft.Main.main(args) }
    ps.flush()
    buf.toString("UTF-8")
  }

  // ---- genomic inputs and truth ----

  final case class Lib(dir: String) {
    def library: String = dir + "/library"
    def labels: String = dir + "/seqid2taxid.map"
    def taxonomy: String = dir + "/taxonomy"
    def reads: String = dir + "/reads/lane*.fastq"
  }

  /** Parent and rank per taxon, parsed from the generated nodes.dmp. */
  final class Truth(taxDir: String) {
    private val nodes: Map[Int, (Int, String)] =
      scala.io.Source.fromFile(taxDir + "/nodes.dmp").getLines().map { l =>
        val f = l.split("\\s*\\|\\s*")
        f(0).trim.toInt -> (f(1).trim.toInt, f(2).trim)
      }.toMap

    /** The genus at or above `t`, if `t` lies at or below a genus. */
    def genusOf(t: Int): Option[Int] = {
      var cur = t
      var steps = 0
      while (nodes.contains(cur) && steps < 16) {
        val (p, rank) = nodes(cur)
        if (rank == "genus") return Some(cur)
        if (p == cur) return None
        cur = p; steps += 1
      }
      None
    }
  }

  /** Genus-level sensitivity and PPV of per-read output lines
    * (`C|U \t title \t taxon \t ...`, truth taxon at the end of the title).
    * Sensitivity: reads of indexed genera called at or below their true
    * genus over reads of indexed genera. PPV: calls at or below a genus that
    * lie at or below the true genus over all calls at or below a genus. */
  def genusAccuracy(lines: Seq[String], truth: Truth): (Double, Double) = {
    var fromGenera = 0L; var sensHits = 0L; var calls = 0L; var ppvHits = 0L
    for (l <- lines) {
      val f = l.split('\t')
      val title = f(1)
      val trueTaxon = title.substring(title.lastIndexOf("_t") + 2).toInt
      val trueGenus = if (trueTaxon == 0) None else truth.genusOf(trueTaxon)
      val called = if (f(0) == "C") truth.genusOf(f(2).toInt) else None
      if (trueGenus.isDefined) fromGenera += 1
      if (called.isDefined) {
        calls += 1
        if (called == trueGenus) { ppvHits += 1; sensHits += 1 }
      }
    }
    (sensHits.toDouble / math.max(fromGenera, 1L),
      ppvHits.toDouble / math.max(calls, 1L))
  }

  /** Classify output checks: one output line per read, genus-level accuracy
    * above the floors, and a kreport with a root row. */
  def checkClassified(spark: SparkSession, lib: Lib, out: String, report: String,
      expectedReads: Long, recallFloor: Double, precisionFloor: Double): Check = {
    val lines = spark.read.text(out).select("value").collect().map(_.getString(0))
    val (sens, ppv) = genusAccuracy(lines.toSeq, new Truth(lib.taxonomy))
    val failures = Seq(
      (lines.length != expectedReads) ->
        s"${lines.length} output lines for $expectedReads reads",
      (sens < recallFloor) -> s"genus sensitivity $sens < $recallFloor",
      (ppv < precisionFloor) -> s"genus PPV $ppv < $precisionFloor",
      !report.linesIterator.exists(_.matches(".*\\t1\\t\\s*root$")) ->
        "kreport has no root row").collect { case (true, msg) => msg }
    Check(failures, sens, ppv)
  }

  /** Order-independent digest of an index's records: xor of row hashes,
    * row count, and the count of records lifted above a species leaf. */
  def recordsDigest(spark: SparkSession, idx: String): (String, Long, Long) = {
    val parts = new File(idx).listFiles().map(_.getPath).filter(
      p => new File(p).getName.startsWith("part-")).sorted
    val r = spark.read.parquet(parts.toIndexedSeq: _*)
      .selectExpr("bit_xor(xxhash64(*))", "count(1)",
        s"sum(if(taxon < ${Gen.species(0, 0)}, 1, 0))")
      .collect()(0)
    (java.lang.Long.toHexString(r.getLong(0)), r.getLong(1), r.getLong(2))
  }

  /** The first digest computed for an index of this input is kept beside
    * the input; every later index built from it, in any run, must match. */
  def digestAgrees(ctx: Ctx, digest: String): Boolean = {
    val f = new File(ctx.inputs, "records.digest")
    if (!f.exists) {
      val tmp = new File(ctx.inputs, "records.digest.tmp")
      java.nio.file.Files.writeString(tmp.toPath, digest)
      tmp.renameTo(f)
      true
    } else java.nio.file.Files.readString(f.toPath).trim == digest
  }

  // ---- classify_join ----

  /** Index buckets and shuffle partitions (`-p`) of every CLI call: two per
    * core on the 4-core host the sizes were chosen on. */
  val Buckets = 8

  /** Classify the read sample through the bucketed sort-merge join
    * (`--in-memory false`) against the Kraken 2 default index (k=35, m=31,
    * s=7) of the seeded library, built in set-up. */
  object ClassifyJoin extends Workload("classify_join") {
    val RecallFloor = 0.6
    val PrecisionFloor = 0.9
    /** Wall seconds of each set-up build, for the record. */
    val buildSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    private var tracedReport = ""

    def lib(ctx: Ctx): Lib = Lib(ctx.inputs.getAbsolutePath)
    def idx(ctx: Ctx): String = ctx.wk("setup_index")

    /** Set-up: the CLI build. Every set-up build must give the same records
      * as every other build of this input (in this run and earlier runs),
      * lift some records above a leaf, and report its record count. */
    override def prepare(ctx: Ctx): Unit = {
      deleteTree(new File(idx(ctx)))
      val l = lib(ctx)
      var printed = ""
      buildSeconds += Driver.secondsOf {
        printed = cli(Array("build", "-k", "35", "-m", "31", "-s", "7",
          "-p", Buckets.toString, "--library", l.library, "--labels", l.labels,
          "--taxonomy", l.taxonomy, "--output", idx(ctx)))
      }
      val (digest, n, lifted) = recordsDigest(ctx.spark, idx(ctx))
      require(n > 0 && lifted > 0, s"$n records, $lifted lifted above a leaf")
      require(printed.contains(s"index written: $n records"),
        "build did not report its record count")
      require(digestAgrees(ctx, digest),
        s"records digest $digest differs from an earlier build of this input")
    }

    override def cliArgs(ctx: Ctx, out: String): Array[String] = {
      val l = lib(ctx)
      Array("classify", "--index", idx(ctx), "--reads", l.reads,
        "--taxonomy", l.taxonomy, "--in-memory", "false", "--output", out)
    }

    /** Accuracy and report checks, plus the path: the CLI must not take (or
      * announce) the in-memory table. */
    override def check(ctx: Ctx, out: String, cliStdout: Option[String]): Check = {
      val c = checkClassified(ctx.spark, lib(ctx), out, cliStdout.getOrElse(tracedReport),
        Gen.Library.reads, RecallFloor, PrecisionFloor)
      val path = cliStdout.filter(_.contains("in-memory"))
        .map(_ => "classify_join took the in-memory path")
      c.copy(failures = c.failures ++ path)
    }

    /** The set-up build layer by layer: library parse + label join,
      * leaf-pair scan, LCA fold, bucketed write. Its records must equal the
      * CLI build's. */
    override def tracedPrepare(ctx: Ctx, tr: Tracer): Map[String, Double] = {
      val spark = ctx.spark
      import spark.implicits._
      val out = idx(ctx)
      deleteTree(new File(out))
      val l = lib(ctx)
      val counts = tr.op("setup", "setup") {
        val bcTax = spark.sparkContext.broadcast(graft.Main.loadTaxonomy(spark, l.taxonomy))
        val library = tr.span("sources.parse_library") {
          val labels = Sequences.labelsHinted(spark, l.labels)
          val ds = Sequences.fasta(spark, l.library)
            .toDF("header", "location", "nucleotides", "nucleotides2")
            .join(labels, "header")
            .select($"taxon", $"nucleotides").as[(Int, String)].persist(Lvl)
          ds.count()
          ds
        }
        val params = IndexParams(k = 35, m = 31, spaces = 7, buckets = Buckets)
        val index = new MinimizerIndex(params, bcTax)
        val pairs = tr.span("kmers.scan_library") {
          val p = index.buildLeafPairs(library).persist(Lvl); p.count(); p
        }
        val records = tr.span("taxa.lca_fold") {
          val r = index.foldLeafPairs(pairs).persist(Lvl); r.count(); r
        }
        val nPairs = pairs.count()
        val n = records.count()
        val lifted = records.filter($"taxon" < Gen.species(0, 0)).count()
        tr.span("index.write") {
          index.writeRecords(records, out)
          IndexParams.write(spark, params.copy(records = Some(n)), out,
            writeDemotionSidecar = false)
        }
        Seq(library, pairs, records).foreach(_.unpersist())
        Map("taxa.leaf_pairs" -> nPairs.toDouble, "taxa.records" -> n.toDouble,
          "taxa.lifted_frac" -> lifted.toDouble / math.max(n, 1L),
          "index.written_mb" -> dirMb(new File(out)))
      }
      val (digest, _, _) = recordsDigest(spark, out)
      require(digestAgrees(ctx, digest),
        s"traced set-up index digest $digest differs from the CLI build")
      counts
    }

    /** The classify op layer by layer (read parse, span scan, join + regroup
      * + resolve, per-read output, kreport), then two probes outside the op
      * for the layers this workload's CLI path bypasses: the broadcast
      * in-memory classifier over the same index and reads, and the sampled
      * frequency ordering of the library. */
    override def traced(ctx: Ctx, tr: Tracer, rep: Int, out: String)
        : Map[String, Double] = {
      val spark = ctx.spark
      val l = lib(ctx)
      val params = IndexParams.read(spark, idx(ctx))
      val bcTax = spark.sparkContext.broadcast(graft.Main.loadTaxonomy(spark, l.taxonomy))
      val index = new MinimizerIndex(params, bcTax)
      val counts = tr.op(s"op$rep", "op") {
        spark.conf.set("spark.sql.shuffle.partitions", params.buckets.toString)
        val records = MinimizerIndex.loadRecords(spark, idx(ctx), params.buckets)
        val reads = tr.span("sources.parse") {
          val r = Sequences.forFile(spark, l.reads).persist(Lvl); r.count(); r
        }
        val spans = tr.span("kmers.scan") {
          val s = index.spansDF(reads).persist(Lvl); s.count(); s
        }
        val classified = tr.span("index.classify") {
          val c = index.classifyDF(spans, records, 0.0, 2).persist(Lvl); c.count(); c
        }
        tr.span("index.output") { IndexOps.writePerSampleOutput(classified, None, out) }
        tracedReport = tr.span("index.report") {
          ClassifyKernel.report(classified, bcTax).render
        }
        val nReads = reads.count()
        val nSpans = spans.count()
        val hits = spans.join(records, index.keyCols).count()
        Seq(reads, spans, classified).foreach(_.unpersist())
        Map("sources.partitions" -> reads.rdd.getNumPartitions.toDouble,
          "kmers.spans" -> nSpans.toDouble,
          "kmers.spans_per_read" -> nSpans.toDouble / math.max(nReads, 1L),
          "index.hit_frac" -> hits.toDouble / math.max(nSpans, 1L))
      }
      val probes = tr.op(s"aux$rep", "aux") {
        val records = MinimizerIndex.loadRecords(spark, idx(ctx), params.buckets)
        val reads = Sequences.forFile(spark, l.reads)
        val mem = tr.span("index.table_build") { index.inMemoryClassifier(records) }
        tr.span("index.mem_classify") { mem.classify(reads, 0.0, 2).count() }
        val tableMb = mem.tableBytes / 1048576.0
        mem.close()
        tr.span("index.ordering") {
          import spark.implicits._
          val library = Sequences.fasta(spark, l.library).map(f => (0, f.nucleotides))
          FrequencyOrdering.topMers(index.packLibrary(library), params.m)
        }
        Map("index.table_mb" -> tableMb)
      }
      counts ++ probes
    }

    override def native(ctx: Ctx, opS: Double): Seq[(String, Double)] = {
      val s = Gen.Library
      Seq("classify_kreads_per_s" -> s.reads / 1000.0 / opS,
        "build_mbp_per_s" -> s.genera * s.species * s.genomeLen / 1e6 /
          Driver.median(buildSeconds.toSeq))
    }
  }

  // ---- curate_text ----

  /** Batch curation with MinHash near-dup removal at Jaccard 0.7. */
  object CurateText extends Workload("curate_text") {
    val Threshold = 0.7
    val RecallFloor = 0.95
    val PrecisionFloor = 0.98

    override def cliArgs(ctx: Ctx, out: String): Array[String] = Array("curate",
      "--docs", ctx.in("docs"), "--output", out,
      "--near-dup-threshold", Threshold.toString, "-p", Buckets.toString)

    /** Planted copies gone, quality-passing originals kept, too-short docs
      * gone, and the summary counts every input doc. */
    override def check(ctx: Ctx, out: String, cliStdout: Option[String]): Check = {
      val kept = ctx.spark.read.parquet(out + "/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val truth = scala.io.Source.fromFile(ctx.in("truth.tsv")).getLines()
        .map(_.split('\t')).map(f => (f(0).toLong, f(1))).toVector
      def frac(role: Set[String], present: Boolean): Double = {
        val ids = truth.filter(t => role(t._2)).map(_._1)
        ids.count(id => kept(id) == present).toDouble / math.max(ids.size, 1)
      }
      val dupRemoved = frac(Set("exact", "near"), present = false)
      val uniqueKept = frac(Set("original"), present = true)
      val shortGone = frac(Set("short"), present = false)
      val summary = scala.io.Source.fromFile(out + "/summary.tsv").getLines()
        .map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap
      val failures = Seq(
        (dupRemoved < RecallFloor) -> s"dup_removed_frac $dupRemoved < $RecallFloor",
        (uniqueKept < PrecisionFloor) -> s"unique_kept_frac $uniqueKept < $PrecisionFloor",
        (shortGone < 1.0) -> s"too-short docs kept (${1 - shortGone} of them)",
        !summary.get("input").contains(truth.size.toString) ->
          s"summary input ${summary.get("input")} != ${truth.size} docs"
      ).collect { case (true, m) => m }
      Check(failures, dupRemoved, uniqueKept)
    }

    /** The curate pipeline layer by layer, in the CLI's order. */
    override def traced(ctx: Ctx, tr: Tracer, rep: Int, out: String)
        : Map[String, Double] = {
      val spark = ctx.spark
      import spark.implicits._
      import graft.operators.Dedup
      tr.op(s"op$rep", "op") {
        val in = tr.span("sources.parse") {
          val d = spark.read.parquet(ctx.in("docs"))
            .select(col("doc_id").cast("long"), col("text").cast("string"))
            .as[(Long, String)].persist(Lvl)
          d.count(); d
        }
        val gated = tr.span("streaming.quality_gate") {
          val g = graft.streaming.StreamingDedup.qualityFilter(in.toDF("doc_id", "text"),
              "text", minTokens = 5, maxTokens = 100000, minAlphaRatio = 0.0)
            .select(col("doc_id"), col("text")).as[(Long, String)].persist(Lvl)
          g.count(); g
        }
        val exact = tr.span("operators.exact_dedup") {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("h")).orderBy(col("doc_id"))
          val e = gated.toDF("doc_id", "text")
            .withColumn("h", md5(col("text").cast("binary")))
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1).select(col("doc_id"), col("text"))
            .as[(Long, String)].persist(Lvl)
          e.count(); e
        }
        val plan = Dedup.lshPlan(Threshold, 0.99)
        val scope = new Dedup.CacheScope
        val sigs = tr.span("operators.minhash") {
          val s = Dedup.minhashSignatures(exact, 3, plan.numHashes).persist(Lvl)
          s.count(); s
        }
        val candidates = tr.span("operators.lsh") {
          val c = Dedup.lshCandidates(sigs, plan.bands, plan.rows,
            Dedup.DEFAULT_MAX_BUCKET, scope).persist(Lvl)
          c.count(); c
        }
        val verified = tr.span("operators.verify") {
          val v = Dedup.verifyJaccard(exact, candidates, 3, Threshold, scope)
            .persist(Lvl)
          v.count(); v
        }
        val deduped = tr.span("operators.components") {
          val drop = Dedup.connectedComponents(verified.select("id_a", "id_b"),
              scope = scope)
            .filter(col("id") =!= col("cluster")).select(col("id"))
          val d = exact.toDF("id", "text").join(drop, Seq("id"), "left_anti")
            .as[(Long, String)].persist(Lvl)
          d.count(); d
        }
        tr.span("operators.cap_check") {
          Dedup.cappedBuckets(exact, numHashes = plan.numHashes, bands = plan.bands)
            .agg(count(lit(1))).collect()
        }
        tr.span("operators.span_strip") {
          Dedup.stripSpans(deduped, 8).toDF("doc_id", "text")
            .write.mode("overwrite").parquet(out + "/corpus")
        }
        val nCand = candidates.count()
        val nVer = verified.count()
        writeSummary(out, in.count())
        scope.release()
        Seq(in, gated, exact, sigs, candidates, verified, deduped).foreach(_.unpersist())
        Map("sources.partitions" -> in.rdd.getNumPartitions.toDouble,
          "operators.candidate_pairs" -> nCand.toDouble,
          "operators.verified_pairs" -> nVer.toDouble,
          "operators.verify_yield" -> nVer.toDouble / math.max(nCand, 1L))
      }
    }

    /** The traced pipeline writes the input count the check reads. */
    private def writeSummary(out: String, n: Long): Unit =
      java.nio.file.Files.writeString(new File(out, "summary.tsv").toPath,
        s"metric\tvalue\ninput\t$n\n")

    override def native(ctx: Ctx, opS: Double): Seq[(String, Double)] = {
      val src = scala.io.Source.fromFile(ctx.in("truth.tsv"))
      try Seq("curate_kdocs_per_s" -> src.getLines().size / 1000.0 / opS)
      finally src.close()
    }
  }
}
