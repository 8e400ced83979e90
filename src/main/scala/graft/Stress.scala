package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Volume-stress harness — the reproducible source of the dossier's
  * at-volume evidence (docs/PLANS.md round-11 notes). Each subcommand
  * generates a synthetic corpus with a CLOSED-FORM expected answer, runs
  * the production operator well past the suite's fixture scale, asserts
  * exactness (or a recall bound where the algorithm is approximate by
  * design) and prints wall time. Not part of `sbt test` — run manually:
  *
  *   sbt "runMain graft.Stress cc"     # 5.1M-edge distributed CC
  *   sbt "runMain graft.Stress span"   # 19.4M-gram span dedup
  *   sbt "runMain graft.Stress emb"     # 100k-vector SemDeDup at k=512
  *   sbt "runMain graft.Stress embblk"  # same, adversarial block-id layout
  *   sbt "runMain graft.Stress embscat" # block ids + scatter init (recovery)
  *   sbt "runMain graft.Stress lsh"     # 200k-doc MinHash-LSH decisions
  *   sbt "runMain graft.Stress estream" # 100k-vector streaming emb dedup
  *   sbt "runMain graft.Stress all"
  */
object Stress {

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("all")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    which match {
      case "cc" => cc(spark)
      case "span" => span(spark)
      case "emb" => emb(spark, interleaved = true)
      case "embblk" => emb(spark, interleaved = false)
      case "embscat" => emb(spark, interleaved = false, scatter = true)
      case "lsh" => lsh(spark)
      case "knn" => knn(spark)
      case "stream" => stream(spark)
      case "estream" => estream(spark)
      case "classify" => classify(spark)
      case "xclassify" => xclassify(spark)
      case "collect" => collectAligned(spark)
      case "all" =>
        cc(spark); span(spark); emb(spark, interleaved = true)
        emb(spark, interleaved = false)
        emb(spark, interleaved = false, scatter = true)
        lsh(spark); knn(spark)
        stream(spark); estream(spark); classify(spark)
        collectAligned(spark)
      case other => sys.error(s"unknown stress '$other'")
    }
    spark.stop()
  }

  /** Distributed CC: 1000 diameter-5000 chains + 1000 100-node rings
    * (5.1M edges), driver fast path disabled. Component = min id, closed
    * form from the id — every label verified distributively. */
  def cc(spark: SparkSession): Unit = {
    val chains = 1000L
    val perChain = 5000L
    val chainEdges = spark.range(chains * perChain)
      .filter(col("id") % perChain =!= 0)
      .select((col("id") - 1).as("id_a"), col("id").as("id_b"))
    val ringBase = chains * perChain
    val rings = 1000L
    val perRing = 100L
    val ringEdges = spark.range(rings * perRing)
      .select((col("id") + ringBase).as("id_a"),
        (((col("id") + 1) % perRing) + expr(s"id div $perRing") * perRing +
          ringBase).as("id_b"))
    val edges = chainEdges.unionAll(ringEdges)
    val scope = new operators.Dedup.CacheScope
    val t0 = System.nanoTime()
    val labels = operators.Dedup.connectedComponents(
      edges, maxIterations = 16, scope = scope, localMaxEdges = 0L)
    val wrong = labels.select(col("id"), col("cluster"),
        when(col("id") < ringBase, expr(s"id div $perChain") * perChain)
          .otherwise(expr(s"(id - $ringBase) div $perRing") * perRing + ringBase)
          .as("want"))
      .filter(col("cluster") =!= col("want")).count()
    val n = labels.count()
    val secs = (System.nanoTime() - t0) / 1e9
    scope.release()
    println(f"[stress cc] $n%d nodes: $secs%.1f s, wrong labels: $wrong")
    assert(wrong == 0, s"$wrong wrong labels")
  }

  /** Span dedup: 200k docs x ~100 words (~19.4M gram positions), 30%
    * carrying one shared 12-word boilerplate block; partial-overlap
    * filler must NOT form 8-gram duplicates. Expected spans and removed
    * words are exact. */
  def span(spark: SparkSession): Unit = {
    import spark.implicits._
    val nDocs = 200000L
    val boiler = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ",
        expr("transform(sequence(0, 87), j -> " +
          "CASE WHEN j % 10 = 0 THEN concat('common', j % 7) " +
          "ELSE concat('u', id, '_', j) END)"),
        when(col("id") % 10 < 3, lit(boiler)).otherwise(
          expr("concat_ws(' ', transform(sequence(0, 11), " +
            "j -> concat('t', id, '_', j)))"))).as("text"))
      .as[(Long, String)]
    docs.cache().count()
    val t0 = System.nanoTime()
    val spans = operators.Dedup.duplicateSpans(docs, n = 8).cache()
    spans.count()
    val t1 = (System.nanoTime() - t0) / 1e9
    val perDoc = spans.groupBy("doc_id").count()
    val multi = perDoc.filter(col("count") > 1).count()
    val docsWithSpan = perDoc.count()
    val expectDocs = nDocs * 3 / 10
    val t2t0 = System.nanoTime()
    val removed = operators.Dedup.stripSpanStats(docs, n = 8)
      .agg(sum("n_removed")).collect()(0).getLong(0)
    val t2 = (System.nanoTime() - t2t0) / 1e9
    spans.unpersist(blocking = false)
    docs.unpersist(blocking = false)
    println(f"[stress span] $docsWithSpan%d span docs (want $expectDocs), " +
      f"multi-span: $multi, duplicateSpans $t1%.1f s, stats $t2%.1f s, " +
      s"removed $removed words")
    assert(docsWithSpan == expectDocs && multi == 0 &&
      removed == (expectDocs - 1) * 12)
  }

  /** Embedding pillar at SemDeDup-regime k: 100k 64-dim vectors = 2000
    * planted directions x 50 jittered copies, k = 512, sample-bounded
    * training. Interleaved ids: near-exact recovery (a direction exactly
    * on a cluster boundary may split — clustering-dependent recall by
    * design). Block ids: adversarial first-k init, recall bound 99%.
    * Block ids + scatter init: the hash-scattered permutation must restore
    * the interleaved-grade init (recall bound back to 99.9%), since under
    * md5 order the block layout is invisible. */
  def emb(spark: SparkSession, interleaved: Boolean,
      scatter: Boolean = false): Unit = {
    import spark.implicits._
    val dirs = 2000
    val copies = 50
    val dim = 64
    val embDf = spark.range(dirs.toLong * copies).map { id =>
      val d = if (interleaved) (id % dirs).toInt else (id / copies).toInt
      var s = d.toLong * 6364136223846793005L + 1442695040888963407L
      val base = Array.tabulate(dim) { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 2001 - 1000) / 1000f
      }
      var t = id * 2862933555777941757L + 3037000493L
      val v = base.map { x =>
        t = t * 2862933555777941757L + 3037000493L
        x + ((t >>> 40).toInt % 5 - 2) / 1000f
      }
      (id, v)
    }.toDF("vec_id", "embedding").cache()
    embDf.count()
    val k = 512
    val scope = new operators.Dedup.CacheScope
    val t0 = System.nanoTime()
    val keepers = operators.Clustering.semanticDecisions(
        embDf, k, iters = 3, tau = 0.95, scope = scope,
        trainN = Some(1 << 14), scatter = scatter)
      .filter(col("keep")).count()
    val secs = (System.nanoTime() - t0) / 1e9
    scope.release()
    embDf.unpersist(blocking = false)
    val mode = (if (interleaved) "interleaved" else "block(adversarial)") +
      (if (scatter) "+scatter" else "")
    val recall = (dirs.toLong * copies - keepers).toDouble /
      (dirs.toLong * copies - dirs)
    println(f"[stress emb/$mode] $keepers keepers of ${dirs * copies}, " +
      f"removal recall $recall%.4f, $secs%.1f s (k=$k)")
    assert(keepers >= dirs, s"over-merged: $keepers keepers < $dirs directions")
    if (interleaved || scatter)
      assert(recall > 0.999, s"recall $recall")
    else assert(recall > 0.99, s"recall $recall")
  }

  /** ANN at volume: 100k 64-dim base vectors with CLUSTER structure (1000
    * planted centers x 100 members, 15% jitter — real embeddings live on
    * clustered manifolds; uniform-random vectors are ANN's pathological
    * no-structure case where any cell/code partition is uninformative),
    * 100 queries drawn from the base. IVF (64 cells, 8 probes) and PQ
    * (8 subspaces x 16 centroids, rerank 64) top-10 measured against the
    * exact brute-force top-10 — recall bounds asserted, all three wall
    * times printed. */
  def knn(spark: SparkSession): Unit = {
    import spark.implicits._
    val nBase = 100000L
    val centers = 1000
    val dim = 64
    val base = spark.range(nBase).map { id =>
      val c = (id % centers).toInt
      var s = c.toLong * 6364136223846793005L + 1442695040888963407L
      val ctr = Array.tabulate(dim) { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 2001 - 1000) / 1000f
      }
      var t = id * 2862933555777941757L + 3037000493L
      val v = ctr.map { x =>
        t = t * 2862933555777941757L + 3037000493L
        x + ((t >>> 40).toInt % 301 - 150) / 1000f
      }
      (id, v)
    }.toDF("_1", "_2").as[(Long, Array[Float])].cache()
    base.count()
    val queries = base.filter(_._1 % 1000 == 0).cache() // 100 queries
    queries.count()
    val k = 10
    def topkMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tb0 = System.nanoTime()
    val brute = topkMap(operators.Similarity.bruteForceKnn(
        queries.toDF("id", "vec"), base.toDF("id", "vec"), k)
      .select("qid", "nid"))
    val tBrute = (System.nanoTime() - tb0) / 1e9
    val ti0 = System.nanoTime()
    // trainN at the same ~256-per-cell guideline as ivfpq below — the
    // default (2^17) would re-scan the whole 100k corpus iters times for
    // quantizer training and dominate the lane's wall time
    val ivf = topkMap(operators.Similarity.ivfKnn(queries, base, k,
        nCells = 64, nProbe = 8, trainN = 16384).select("qid", "nid"))
    val tIvf = (System.nanoTime() - ti0) / 1e9
    val tp0 = System.nanoTime()
    val pq = topkMap(operators.Similarity.pqKnn(queries, base, k,
        rerank = 64).select("qid", "nid"))
    val tPq = (System.nanoTime() - tp0) / 1e9
    val tip0 = System.nanoTime()
    // scale-correct knobs (a parameter sweep is recorded in the dossier):
    // trainN at the faiss guideline (~256 points per coarse cell), and
    // rerank well above k — with ~12.5k approx-scored candidates per query
    // the exact re-rank pool is what recall rides on (rerank=64 -> 0.76,
    // rerank=256 -> 1.000 at the same scan cost)
    val ivfpq = topkMap(operators.Similarity.ivfPqKnn(queries, base, k,
        nCells = 64, nProbe = 8, rerank = 256, trainN = 16384)
      .select("qid", "nid"))
    val tIvfPq = (System.nanoTime() - tip0) / 1e9
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val hits = brute.toSeq.map { case (q, want) =>
        approx.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
      }
      hits.sum / hits.size
    }
    val rIvf = recall(ivf)
    val rPq = recall(pq)
    val rIvfPq = recall(ivfpq)
    // sharded query side at volume (r11 verdict ask): queryBound = 30 <
    // Q = 100 forces 4 hash shards (training shared, per-shard corpus
    // scans) — the result must be IDENTICAL sets to the single-collect
    // ivfpq above, not merely similar
    val ts0 = System.nanoTime()
    val sharded = topkMap(operators.Similarity.ivfPqKnn(queries, base, k,
        nCells = 64, nProbe = 8, rerank = 256, trainN = 16384,
        queryBound = 30)
      .select("qid", "nid"))
    val tSharded = (System.nanoTime() - ts0) / 1e9
    assert(sharded == ivfpq, "sharded ivfpq diverges from single-collect")
    base.unpersist(blocking = false)
    queries.unpersist(blocking = false)
    println(f"[stress knn] brute $tBrute%.1f s; ivf $tIvf%.1f s " +
      f"recall@$k $rIvf%.3f; pq $tPq%.1f s recall@$k $rPq%.3f; " +
      f"ivfpq $tIvfPq%.1f s recall@$k $rIvfPq%.3f; " +
      f"ivfpq-sharded(4) $tSharded%.1f s identical")
    assert(rIvf >= 0.8, s"ivf recall $rIvf")
    assert(rPq >= 0.6, s"pq recall $rPq")
    // residual coding + a deep exact re-rank must recover what whole-space
    // PQ loses on clustered data, while scanning only nProbe/nCells of the
    // corpus (measured 1.000 at these knobs)
    assert(rIvfPq >= 0.95, s"ivfpq recall $rIvfPq")
  }

  /** Genomic classify at volume with closed-form truth: 500 leaf taxa
    * with DISTINCT random 20 kb genomes (10 MB library), 200k 150 bp
    * reads cut from known genomes at known offsets. Build the bucketed
    * minimizer->LCA index with the default Kraken 2 parameters, classify
    * through the one-sided bucketed join, and require every classified
    * read to land on its source taxon or an ancestor (the reference's own
    * acceptance criterion), with >= 99% exact source hits — chance 31-mer
    * collisions between random genomes are the only lift source. */
  def classify(spark: SparkSession): Unit =
    classifyWith(spark, "classify",
      bcTax => new index.MinimizerIndex(index.IndexParams(buckets = 32), bcTax))

  /** [[classify]] at the extra-wide width (m = 96, three-long keys): the
    * same closed-form truth through the SAME KeyedIndex face — the
    * ceil(m/32)-key path proven at 200k reads / 10 MB library volume,
    * not just the oracle-scale g14 lane. */
  def xclassify(spark: SparkSession): Unit =
    classifyWith(spark, "xclassify",
      bcTax => new index.WideMinimizerIndex(104, 96, bcTax))

  /** CollectAligned at volume: 20M rows -> 1M groups, five parallel
    * primitive columns (100M field values through partial aggregation,
    * buffer serialization and the memcopy decode — the shape whose boxed
    * predecessor was the r16 165M-element hotspot). Every emitted
    * quintuple is checked against its closed form distributively; the
    * reduce returns the violation count (must be 0). */
  def collectAligned(spark: SparkSession): Unit = {
    import spark.implicits._
    val groups = 1000000L
    val perGroup = 20L
    val fn = functions.CollectAligned.register(spark,
      Seq("k1", "k2", "k3", "k4", "t"))
    val df = spark.range(groups * perGroup).select(
      expr(s"id div $perGroup").as("g"),
      col("id").as("k1"), (col("id") * 31).as("k2"), (col("id") * 7).as("k3"),
      (-col("id")).as("k4"), (col("id") % 13).cast("int").as("t"))
    val t0 = System.nanoTime()
    val bad = df.groupBy($"g")
      .agg(functions.CollectAligned(fn, $"k1", $"k2", $"k3", $"k4", $"t")
        .as("h"))
      .select($"g", $"h.k1", $"h.k2", $"h.k3", $"h.k4", $"h.t")
      .as[(Long, Array[Long], Array[Long], Array[Long], Array[Long], Array[Int])]
      .map { case (g, a, b, c, d, e) =>
        var v = 0L
        if (a.length != perGroup || b.length != a.length ||
          c.length != a.length || d.length != a.length || e.length != a.length)
          v += 1
        var i = 0
        while (i < a.length) {
          if (b(i) != a(i) * 31 || c(i) != a(i) * 7 || d(i) != -a(i) ||
            e(i) != (a(i) % 13).toInt || a(i) / perGroup != g) v += 1
          i += 1
        }
        v
      }.reduce(_ + _)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[stress] collect_aligned: ${groups * perGroup}%,d rows -> " +
      f"$groups%,d groups x 5 cols in $secs%.1f s, violations=$bad")
    require(bad == 0, s"collect_aligned mis-aligned $bad quintuples")
  }

  private def classifyWith(spark: SparkSession, label: String,
      mkIndex: org.apache.spark.broadcast.Broadcast[taxa.Taxonomy]
        => index.KeyedIndex): Unit = {
    import spark.implicits._
    val nTaxa = 500
    val genomeLen = 20000
    val nReads = 200000L
    val readLen = 150
    val tax = taxa.Taxonomy.fromTuples((2 to nTaxa + 1).map(i =>
      (i, 1, "species", s"s$i")))
    def dna(taxon: Int): String = {
      var s = taxon.toLong * 6364136223846793005L + 1442695040888963407L
      val sb = new StringBuilder(genomeLen)
      var i = 0
      while (i < genomeLen) {
        s = s * 6364136223846793005L + 1442695040888963407L
        sb.append("ACGT"(((s >>> 40) & 3L).toInt))
        i += 1
      }
      sb.toString
    }
    val genomes = (2 to nTaxa + 1).map(t => (t, dna(t)))
    val bcGen = spark.sparkContext.broadcast(genomes.toArray)
    val bcTax = spark.sparkContext.broadcast(tax)
    val idx = mkIndex(bcTax)
    val tb0 = System.nanoTime()
    val records = idx.buildRecords(
      spark.createDataset(genomes)).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRec = records.count()
    val tBuild = (System.nanoTime() - tb0) / 1e9
    val reads = spark.range(nReads).map { r =>
      val gs = bcGen.value
      val g = (r % gs.length).toInt
      val off = ((r * 2654435761L) % (genomeLen - readLen)).toInt
      sources.InputFragment(s"r$r src${gs(g)._1}", r,
        gs(g)._2.substring(off, off + readLen), None)
    }
    val tc0 = System.nanoTime()
    val out = idx.classifyDF(idx.spansDF(reads), records)
      .select(col("title"), col("classified"), col("taxon"))
      .as[(String, Boolean, Int)]
      .map { case (title, classified, taxon) =>
        val src = title.split(" src")(1).toInt
        (if (classified && taxon == src) 1 else 0,
          if (classified && (taxon == src || taxon == 1)) 1 else 0, 1)
      }
      .toDF("exact", "ok", "n")
      .agg(sum("exact"), sum("ok"), sum("n")).collect()(0)
    val tClassify = (System.nanoTime() - tc0) / 1e9
    records.unpersist(blocking = false)
    val (exact, ok, n) = (out.getLong(0), out.getLong(1), out.getLong(2))
    println(f"[stress $label%s] $nRec%d records built $tBuild%.1f s; " +
      f"$n%d reads classified $tClassify%.1f s; exact ${exact.toDouble / n}%.4f, " +
      f"source-or-ancestor ${ok.toDouble / n}%.4f")
    assert(n == nReads, s"classified $n of $nReads")
    assert(ok == n, s"${n - ok} reads landed outside their source lineage")
    assert(exact.toDouble / n >= 0.99, s"exact fraction ${exact.toDouble / n}")
  }

  /** Streaming near-dup suppression at volume: 4 triggers x 25k docs
    * through [[graft.streaming.StreamingDedup.dedupNear]]. Trigger 1
    * carries 5k "base" docs + 20k uniques; triggers 2-4 each carry 20k
    * uniques + 5k near-copies of trigger-1 bases (2 of 62 words differ,
    * shingle Jaccard ~0.86 — each band matches w.p. ~0.55, so a copy
    * escaping all 16 bands is ~3e-6). Expected survivors: 25k + 3x20k,
    * with a tiny LSH-probabilistic slack. Exercises the stateful band
    * shuffle and cross-trigger ownership at ~400k band events/trigger. */
  def stream(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String)]
    val survivors = new java.util.concurrent.atomic.AtomicLong
    val writer = graft.streaming.StreamingDedup.dedupNear(
      ms.toDS().toDF("ts", "doc_id", "text"), "text", "ts", "doc_id",
      watermark = "60 minutes", stateTtlMs = 60 * 60 * 1000L) { batch =>
      survivors.addAndGet(batch.count())
    }
    val bases = 5000
    val uniquesPerTrigger = 20000
    def baseText(b: Int): String =
      (0 until 60).map(j => s"g${b}_$j").mkString(" ")
    def docsFor(t: Int): Seq[(java.sql.Timestamp, Long, String)] = {
      val t0 = 1700000000000L + t * 600000L
      val idBase = t.toLong * 25000L
      val dups = (0 until bases).map { b =>
        (new java.sql.Timestamp(t0 + b), idBase + b,
          s"${baseText(b)} v${t}a v${t}b")
      }
      val uniq = (0 until uniquesPerTrigger).map { i =>
        val id = idBase + bases + i
        (new java.sql.Timestamp(t0 + bases + i), id,
          (0 until 62).map(j => s"u${id}_$j").mkString(" "))
      }
      dups ++ uniq
    }
    val query = writer.start()
    val t0 = System.nanoTime()
    try {
      for (t <- 0 until 4) {
        ms.addData(docsFor(t))
        query.processAllAvailable()
      }
    } finally query.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val got = survivors.get()
    val want = 25000L + 3L * uniquesPerTrigger
    println(f"[stress stream] survivors $got (want ~$want), 4 triggers, $secs%.1f s")
    assert(math.abs(got - want) <= 20, s"survivors $got vs $want")
  }

  /** Streaming EMBEDDING near-dup suppression at volume: 4 triggers x 25k
    * 64-dim vectors through [[graft.streaming.StreamingDedup
    * .dedupNearEmbedding]]. Trigger 1 carries 5k "base" directions + 20k
    * uniques; triggers 2-4 each carry 20k uniques + 5k jittered copies of
    * trigger-1 bases. planes = 20 keeps mean bucket occupancy ~0.5 so the
    * 8-owner cap almost never saturates; the in-state int8 cosine confirm
    * must (a) suppress every planted copy it blocks with (jitter keeps
    * int8 cosine ~0.999, far above tau) and (b) pass every unique — for
    * random 64-dim directions pairwise |cos| concentrates near 1/8, so a
    * confirmed FALSE drop is impossible at tau = 0.9 and the survivor
    * count is exact up to cap-overflow recall misses (counted, tiny). */
  def estream(spark: SparkSession): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = 64
    def dir(d: Long): Array[Float] = {
      var s = d * 6364136223846793005L + 1442695040888963407L
      Array.tabulate(dim) { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 2001 - 1000) / 1000f
      }
    }
    def near(v: Array[Float], seed: Long): Array[Float] = {
      var s = seed * 2862933555777941757L + 3037000493L
      v.map { x =>
        s = s * 2862933555777941757L + 3037000493L
        x + ((s >>> 40).toInt % 5 - 2) / 1000f
      }
    }
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, Array[Float])]
    val survivors = new java.util.concurrent.atomic.AtomicLong
    val writer = graft.streaming.StreamingDedup.dedupNearEmbedding(
      ms.toDS().toDF("ts", "vec_id", "emb"), "emb", "ts", "vec_id",
      tau = 0.9, watermark = "60 minutes", planes = 20,
      stateTtlMs = 60 * 60 * 1000L) { batch =>
      survivors.addAndGet(batch.count())
    }
    val bases = 5000
    val uniquesPerTrigger = 20000
    def docsFor(t: Int): Seq[(java.sql.Timestamp, Long, Array[Float])] = {
      val t0 = 1700000000000L + t * 600000L
      val idBase = t.toLong * 25000L
      val dups = (0 until bases).map { b =>
        val v = if (t == 0) dir(b) else near(dir(b), idBase + b)
        (new java.sql.Timestamp(t0 + b), idBase + b, v)
      }
      val uniq = (0 until uniquesPerTrigger).map { i =>
        val id = idBase + bases + i
        (new java.sql.Timestamp(t0 + bases + i), id, dir(1000000L + id))
      }
      dups ++ uniq
    }
    val query = writer.start()
    val t0 = System.nanoTime()
    try {
      for (t <- 0 until 4) {
        ms.addData(docsFor(t))
        query.processAllAvailable()
      }
    } finally query.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val got = survivors.get()
    val want = 25000L + 3L * uniquesPerTrigger
    println(f"[stress estream] survivors $got (want $want), 4 triggers, $secs%.1f s")
    assert(got >= want, s"false drops: $got < $want")
    assert(got - want <= 50, s"missed copies beyond cap slack: $got vs $want")
  }

  /** MinHash-LSH dedup decisions: 200k docs = 20k planted near-dup groups
    * x 5 copies (shingle Jaccard ~0.86) + 100k uniques. 64 hashes /
    * 16 bands catch essentially every group; uniques have disjoint
    * shingles, so the expected cluster structure is exact. */
  def lsh(spark: SparkSession): Unit = {
    import spark.implicits._
    val groups = 20000L
    val copies = 5L
    val uniques = 100000L
    val dupDocs = spark.range(groups * copies).select(col("id"),
      expr(s"id div $copies").as("g"), (col("id") % copies).as("c"))
      .select(col("id"),
        concat_ws(" ",
          expr("transform(sequence(0, 59), j -> concat('g', g, '_', j))"),
          expr("concat('v', c, 'a')"), expr("concat('v', c, 'b')")).as("text"))
    val uniqueDocs = spark.range(uniques)
      .select((col("id") + groups * copies).as("id"),
        expr("concat_ws(' ', transform(sequence(0, 61), " +
          "j -> concat('u', id, '_', j)))").as("text"))
    val docs = dupDocs.unionByName(uniqueDocs)
      .select(col("id").as("_1"), col("text").as("_2"))
      .as[(Long, String)].cache()
    docs.count()
    val scope = new operators.Dedup.CacheScope
    val t0 = System.nanoTime()
    val dec = operators.Dedup.dedupDecisions(docs, scope = scope).cache()
    val clusters = dec.agg(countDistinct("cluster")).collect()(0).getLong(0)
    val members = dec.count()
    val secs = (System.nanoTime() - t0) / 1e9
    dec.unpersist(blocking = false)
    scope.release()
    docs.unpersist(blocking = false)
    println(f"[stress lsh] members $members, clusters $clusters, $secs%.1f s")
    assert(clusters == groups && members == groups * copies)
  }
}
