package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ (Jégou et al.'s IVFADC), written once: [[train]], [[encode]]
  * and one [[probe]], mirroring the genomic index lifecycle (train/encode
  * once, probe many). [[Similarity.ivfPqKnn]] is the one-shot composition
  * — train, encode the base, probe it. [[build]] runs the same training +
  * encode pass once and persists it for a serving workload, where the
  * corpus is stable and query batches keep arriving:
  *
  *   - `<dir>/vectors/` — parquet partitioned by coarse cell, columns
  *     (nid, code, vec). A probe reads ONLY the `nProbe` probed cells
  *     (partition pruning, plan-asserted in the spec) and ONLY the S-byte
  *     `code` column (column pruning) — at 100 TB the scan cost drops to
  *     `nProbe/nCells` of the corpus at ~32x fewer bytes per row; `vec` is
  *     touched just for the bounded re-rank join.
  *   - `<dir>/model.tsv` — the coarse centroids + residual codebooks as
  *     exact longs (a few KB; the integer Lloyd's makes the whole model
  *     losslessly serializable as text).
  *
  * [[query]] loads the sidecar and probes: NO training code path exists in
  * it — the spec proves a probe-only run answers from the index alone. The
  * query side shares [[Similarity.shardedKnn]], so query sets beyond the
  * driver bound auto-shard exactly like every other kNN lane.
  */
object AnnIndex {

  /** The trained quantizer pair: coarse centroids `[cell][dim]` and
    * residual PQ codebooks `[subspace][centroid][subDim]`, all
    * milli-quantized longs, plus the exact-long tables of the ADC
    * decomposition of the approximate cosine:
    *
    *   dot(q, c + r̂) = dot(q, c) + Σ_s table[s][code_s]
    *   ‖c + r̂‖²      = ‖c‖² + 2·Σ_s cross[cell][s][code_s] + Σ_s n2[s][code_s]
    *
    * (all longs below 2^53, so the one double division per pair is
    * engine-independent and the v10 DuckDB oracle re-derives it). */
  case class Model(coarse: Array[Array[Long]],
      books: Array[Array[Array[Long]]]) {
    def nCells: Int = coarse.length
    def dim: Int = coarse(0).length
    def subspaces: Int = books.length
    def centroids: Int = books(0).length
    lazy val centNorm2: Array[Long] = coarse.map(Similarity.sumSq)
    lazy val n2: Array[Array[Long]] = books.map(_.map(Similarity.sumSq))
    lazy val cross: Array[Array[Array[Long]]] =
      coarse.map(Similarity.adcTable(_, books))

    /** One query's ADC state: (qid, dot(q, c) per probed cell, the
      * per-subspace dot table, ‖q‖). */
    def queryTable(qid: Long, qvl: Array[Long], probed: Array[Int])
        : (Long, Map[Int, Long], Array[Array[Long]], Double) =
      (qid, probed.map(c => c -> Similarity.dotLong(qvl, 0, coarse(c))).toMap,
        Similarity.adcTable(qvl, books), math.sqrt(Similarity.sumSq(qvl).toDouble))
  }

  /** Train the coarse + residual quantizers on a deterministic sample (the
    * first `trainN` ids, or the hash permutation under `scatter` — see
    * [[Clustering.initOrder]]; the v10 oracle re-derives it with ORDER BY
    * vec_id LIMIT trainN): coarse centroids are the shared integer Lloyd's
    * with one subspace spanning all dims, the PQ codebooks the same Lloyd's
    * over the sample's RESIDUALS from their coarse cell. Driver-side,
    * bounded by the sample (trainN·dim·8 bytes), never the corpus. */
  def train(base: Dataset[(Long, Array[Float])], nCells: Int, subspaces: Int,
      centroids: Int, trainN: Int, iters: Int, scatter: Boolean): Model = {
    Similarity.requireByteCodes(centroids)
    val sample = Similarity.collectTrainSample(base, trainN, scatter)
    val coarse = Similarity.trainSubspaceCodebooks(sample, 1, nCells, iters)(0)
    val residuals = sample.map(v => assign(v, coarse)._2)
    Model(coarse, Similarity.trainSubspaceCodebooks(residuals, subspaces,
      centroids, iters))
  }

  /** [[train]] the quantizers and persist the encoded corpus partitioned by
    * cell. One narrow encode pass over the base; the model sidecar is
    * driver-side text. Returns the trained model. */
  def build(base: Dataset[(Long, Array[Float])], dir: String, nCells: Int = 8,
      subspaces: Int = 8, centroids: Int = 16, trainN: Int = 256,
      iters: Int = 3, scatter: Boolean = false): Model = {
    val model = train(base, nCells, subspaces, centroids, trainN, iters, scatter)
    encodeWrite(model, base, dir, overwrite = true)
    writeModel(base.sparkSession, s"$dir/model.tsv", model)
    model
  }

  /** Append a NEW vector batch to an existing index, encoded with the
    * STORED model — the incremental half of the serving lifecycle: the
    * corpus grows, only the new batch pays an encode pass, probes see the
    * union immediately (same cells, same codebooks, so the ADC arithmetic
    * is bit-identical to a build that encoded everything with this model —
    * spec-asserted). The quantizers are NOT retrained: like any IVF
    * system, heavy drift in the data distribution eventually degrades
    * recall and warrants a rebuild. Caller owns nid uniqueness across
    * batches, as with any index append. */
  def append(base: Dataset[(Long, Array[Float])], dir: String): Model = {
    val model = readModel(base.sparkSession, s"$dir/model.tsv")
    encodeWrite(model, base, dir, overwrite = false)
    model
  }

  /** Result of [[recallCheck]]: measured probe recall@k of a query sample
    * against exact brute force, and whether it sank below the threshold. */
  case class RecallReport(sampled: Int, k: Int, recall: Double,
      threshold: Double, rebuildRecommended: Boolean)

  /** Recall-drift gauge for a served index: [[append]] never retrains the
    * quantizers, so a drifted batch (vectors far from every trained cell)
    * degrades ANN recall SILENTLY — huge residuals collapse to
    * near-identical PQ codes and the ADC pre-rank stops discriminating.
    * This makes the degradation a measured number: probe recall@k of a
    * small query sample versus exact brute-force cosine over the stored
    * corpus, with `rebuildRecommended` set when recall < `threshold`.
    *
    * The sample defaults to the `sampleN` HIGHEST-nid stored vectors — the
    * most recently appended rows under the monotone nid assignment most
    * loaders use — so "check after append" gauges exactly the batch that
    * could have drifted; pass `queries` to gauge an explicit set instead.
    *
    * Cost: one probe (`nProbe/nCells` of the corpus, code column only) +
    * one full-corpus scan with `sampleN` dot products per row — a gauge,
    * not a per-query tax; run it after appends, not per probe. */
  def recallCheck(spark: SparkSession, dir: String, sampleN: Int = 64,
      k: Int = 10, nProbe: Int = 3, rerank: Int = 32, threshold: Double = 0.9,
      queries: Option[Dataset[(Long, Array[Float])]] = None): RecallReport = {
    import spark.implicits._
    val table = spark.read.parquet(s"$dir/vectors")
    val q = queries.getOrElse {
      table.select(col("nid").cast("long"), col("vec"))
        .orderBy(col("nid").desc).limit(sampleN)
        .as[(Long, Array[Float])]
    }.cache()
    try {
      val nQ = q.count().toInt
      val approx = query(q, dir, k, nProbe, rerank)
        .select(col("qid"), col("nid"))
      val exact = Similarity.bruteForceKnn(
        q.toDF("id", "vec"),
        table.select(col("nid").cast("long").as("id"), col("vec")), k)
        .select(col("qid"), col("nid"))
      // recall@k = |approx ∩ exact| / |exact| (exact has k rows per query
      // except on corpora smaller than k+1, hence the measured denominator)
      val hit = approx.join(exact, Seq("qid", "nid")).count()
      val denom = exact.count()
      val recall = if (denom == 0) 1.0 else hit.toDouble / denom
      RecallReport(nQ, k, recall, threshold, recall < threshold)
    } finally q.unpersist(false)
  }

  /** A quantized vector's coarse cell (nearest centroid, ties to the
    * smallest cell) and its residual from that cell's centroid. */
  private def assign(v: Array[Long], coarse: Array[Array[Long]]): (Int, Array[Long]) = {
    val c = Similarity.nearestSub(v, 0, v.length, coarse)
    (c, Array.tabulate(v.length)(i => v(i) - coarse(c)(i)))
  }

  /** The one narrow encode pass: (nid, cell, residual PQ code, vec) for
    * every non-null base row. */
  private[operators] def encode(model: Model, base: Dataset[(Long, Array[Float])])
      : Dataset[(Long, Int, Array[Byte], Array[Float])] = {
    val spark = base.sparkSession
    import spark.implicits._
    val bcCoarse = spark.sparkContext.broadcast(model.coarse)
    val bcBooks = spark.sparkContext.broadcast(model.books)
    val dim = model.dim
    base.filter(_._2 != null).map { case (id, v) =>
      // fail loudly on a batch whose vectors don't match the model: a
      // smaller dim would otherwise encode silently-wrong prefix codes
      require(v.length == dim,
        s"vector $id has dim ${v.length}, the index model expects $dim")
      val (cell, res) = assign(Similarity.quantizeJvm(v), bcCoarse.value)
      (id, cell, Similarity.pqEncode(res, bcBooks.value), v)
    }
  }

  /** [[encode]] + the cell-partitioned write shared by [[build]]
    * (overwrite) and [[append]] (append). */
  private def encodeWrite(model: Model, base: Dataset[(Long, Array[Float])],
      dir: String, overwrite: Boolean): Unit =
    // repartition ON the partition column first: each cell's rows land in
    // one task, so partitionBy emits one file per cell (per batch) instead
    // of (tasks x cells) shards — codes are S bytes/row, so even
    // billion-row cells stay block-sized; raise with repartition(n,
    // $"cell") if not
    encode(model, base).toDF("nid", "cell", "code", "vec")
      .repartition(col("cell"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("cell").parquet(s"$dir/vectors")

  /** Probe a built index: top-`k` exact-cosine neighbors per query, ADC
    * scan over the probed cells' codes + exact re-rank of the global
    * top-`rerank` — the [[probe]] that [[Similarity.ivfPqKnn]] runs, minus
    * its training and encode passes. Reads only the index directory. */
  def query(queries: Dataset[(Long, Array[Float])], dir: String, k: Int,
      nProbe: Int = 3, rerank: Int = 32,
      queryBound: Int = Similarity.DefaultQueryShardBound): DataFrame = {
    val spark = queries.sparkSession
    queryLoaded(queries, readModel(spark, s"$dir/model.tsv"),
      spark.read.parquet(s"$dir/vectors"), k, nProbe, rerank, queryBound)
  }

  /** [[query]] against an already-loaded model + vectors frame — the
    * serving form: load once, probe many (the streaming probe and any
    * driver loop reuse the same model and table plan across calls). Both
    * sides read only the probed cells' partitions; the scan side reads
    * only the `code` column. */
  def queryLoaded(queries: Dataset[(Long, Array[Float])], model: Model,
      table: DataFrame, k: Int, nProbe: Int = 3, rerank: Int = 32,
      queryBound: Int = Similarity.DefaultQueryShardBound): DataFrame = {
    import table.sparkSession.implicits._
    def inCells(cells: Array[Int]) =
      table.filter(col("cell").isin(cells.map(c => c: Any): _*))
    probe(queries, model, k, nProbe, rerank, queryBound)(
      cells => inCells(cells)
        .select(col("nid").cast("long"), col("cell").cast("int"), col("code"))
        .as[(Long, Int, Array[Byte])],
      cells => inCells(cells).select(col("nid").cast("long"), col("vec")))
  }

  /** The IVF-PQ probe, shared by [[queryLoaded]] and
    * [[Similarity.ivfPqKnn]]: per query the `nProbe` nearest cells
    * ([[Similarity.probeCells]]), one narrow ADC scan over `codes(probed)`
    * — (nid, cell, code) rows — keeping per-partition bounded
    * (sim desc, nid asc) heaps of `rerank` candidates, the global top-
    * `rerank` per query ([[Similarity.topPerQuery]]), and the exact-cosine
    * re-rank against `vecs(probed)` — (nid, vec) rows. `model` is by-name:
    * it is forced on the first query shard, so an empty query set never
    * trains a one-shot model. A base row lives in exactly one cell, so a
    * (query, row) pair is scored at most once; the heaps only prune, so
    * the result is independent of partitioning. */
  private[operators] def probe(queries: Dataset[(Long, Array[Float])],
      model: => Model, k: Int, nProbe: Int, rerank: Int, queryBound: Int)(
      codes: Array[Int] => Dataset[(Long, Int, Array[Byte])],
      vecs: Array[Int] => DataFrame): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.GraftFunctions.register(spark)
    Similarity.shardedKnn(queries, queryBound) { qArr =>
      import spark.implicits._
      val m = model
      for ((qid, qv) <- qArr) require(qv.length == m.dim,
        s"query $qid has dim ${qv.length}, the index model expects ${m.dim}")
      val nP = math.min(nProbe, m.nCells)
      val qvls = qArr.map { case (_, qv) => Similarity.quantizeJvm(qv) }
      val qProbes = qvls.map(Similarity.probeCells(_, m.coarse, nP))
      val qTables = Array.tabulate(qArr.length)(i =>
        m.queryTable(qArr(i)._1, qvls(i), qProbes(i)))
      val cellQueries = Similarity.invertProbes(qProbes, m.nCells)
      val probed = qProbes.flatten.distinct.sorted
      val bcQ = spark.sparkContext.broadcast(qTables)
      val bcCellQ = spark.sparkContext.broadcast(cellQueries)
      val bcCross = spark.sparkContext.broadcast(m.cross)
      val bcN2 = spark.sparkContext.broadcast(m.n2)
      val bcCN = spark.sparkContext.broadcast(m.centNorm2)
      val rr = rerank.max(k)

      val scored = codes(probed).mapPartitions { it =>
        val qs = bcQ.value
        val cellQ = bcCellQ.value
        val crossT = bcCross.value
        val n2T = bcN2.value
        val cn = bcCN.value
        val heapSim = Array.fill(qs.length)(new Array[Double](rr))
        val heapId = Array.fill(qs.length)(new Array[Long](rr))
        val heapN = new Array[Int](qs.length)
        for ((nid, cell, code) <- it) {
          val qIdxs = cellQ(cell)
          var qi = 0
          while (qi < qIdxs.length) {
            val q = qIdxs(qi)
            val (qid, dotQC, tab, qnorm) = qs(q)
            if (qid != nid) {
              var dot = dotQC(cell)
              var nn = cn(cell)
              var s = 0
              while (s < code.length) {
                val j = code(s) & 0xff
                dot += tab(s)(j)
                nn += 2 * crossT(cell)(s)(j) + n2T(s)(j)
                s += 1
              }
              val sim = if (qnorm == 0.0 || nn <= 0L) 0.0
                else dot.toDouble / (qnorm * math.sqrt(nn.toDouble))
              heapN(q) = Similarity.boundedInsert(heapSim(q), heapId(q),
                heapN(q), rr, sim, nid)
            }
            qi += 1
          }
        }
        Similarity.drainHeaps(qs.map(_._1), heapSim, heapId, heapN)
      }.toDF("qid", "nid", "asim")
      val candidates = Similarity.topPerQuery(scored, "asim", rr)
        .select("qid", "nid")
      (Similarity.exactRerank(candidates, queries, vecs(probed), k), () => {
        bcQ.destroy(); bcCellQ.destroy(); bcCross.destroy()
        bcN2.destroy(); bcCN.destroy()
      })
    }
  }

  /** Streaming probe of a built index — the online serving loop: query
    * vectors stream in, each micro-batch probes the static cell-
    * partitioned codes with exactly the batch [[query]] kernel. The model
    * sidecar and the vectors frame load ONCE before the stream starts
    * (per-batch work is the probe scan + bounded re-rank only); results
    * are batch-equal to [[query]] over the same rows (spec-asserted),
    * following the [[graft.streaming.StreamingClassifier]] foreachBatch
    * stream-static topology. */
  def queryStream(queries: Dataset[(Long, Array[Float])], dir: String,
      k: Int, nProbe: Int = 3, rerank: Int = 32,
      queryBound: Int = Similarity.DefaultQueryShardBound)(
      sink: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[(Long, Array[Float])] = {
    require(queries.isStreaming, "queries must be a streaming Dataset")
    val spark = queries.sparkSession
    val model = readModel(spark, s"$dir/model.tsv")
    val table = spark.read.parquet(s"$dir/vectors")
    queries.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (batch: Dataset[(Long, Array[Float])], batchId: Long) =>
        sink(batchId,
          queryLoaded(batch, model, table, k, nProbe, rerank, queryBound))
      }
  }

  /** The sidecar format: header line `ann <dim> <nCells> <subspaces>
    * <centroids>`, then one `cell <c> v...` line per coarse centroid and
    * one `book <s> <c> v...` line per codebook entry — whitespace-split
    * longs, no parser dependency, diffable. */
  private def writeModel(spark: SparkSession, path: String, m: Model): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = new java.io.PrintWriter(fs.create(p, true), false,
      java.nio.charset.StandardCharsets.UTF_8)
    try {
      w.println(s"ann ${m.dim} ${m.nCells} ${m.subspaces} ${m.centroids}")
      for (c <- 0 until m.nCells)
        w.println(s"cell $c ${m.coarse(c).mkString(" ")}")
      for (s <- 0 until m.subspaces; c <- 0 until m.centroids)
        w.println(s"book $s $c ${m.books(s)(c).mkString(" ")}")
    } finally w.close()
  }

  def readModel(spark: SparkSession, path: String): Model = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = scala.io.Source.fromInputStream(fs.open(p))
    val lines = try src.getLines().toVector finally src.close()
    val header = lines.head.split(" ")
    require(header(0) == "ann", s"not an ANN model sidecar: $path")
    val (dim, nCells, subspaces, centroids) =
      (header(1).toInt, header(2).toInt, header(3).toInt, header(4).toInt)
    val coarse = Array.ofDim[Array[Long]](nCells)
    val books = Array.ofDim[Array[Long]](subspaces, centroids)
    for (line <- lines.tail) {
      val t = line.split(" ")
      t(0) match {
        case "cell" => coarse(t(1).toInt) = t.drop(2).map(_.toLong)
        case "book" => books(t(1).toInt)(t(2).toInt) = t.drop(3).map(_.toLong)
        case other => sys.error(s"unknown model line kind '$other' in $path")
      }
    }
    require(coarse.forall(c => c != null && c.length == dim) &&
      books.forall(_.forall(b => b != null && b.length == dim / subspaces)),
      s"model sidecar $path is incomplete")
    Model(coarse, books)
  }
}
