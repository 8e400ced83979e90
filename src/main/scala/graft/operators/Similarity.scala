package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextAnalysis.mix64

/** Approximate nearest-neighbor search over embedding columns.
  *
  * Brute force (exact, O(Q*N)) is the correctness baseline; the scale path is
  * random-hyperplane LSH: a narrow map computes a small bucket id per vector,
  * the join runs bucket-to-bucket (with optional multi-probe), and only
  * candidates get exact cosine. At 100 TB the bucketed variant replaces the
  * cross join with an equi-join whose build side partitions by bucket.
  */
object Similarity {

  /** dot(a, b) over float array columns, accumulated in double (codegen'd
    * higher-order functions, no UDF). */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  /** Cosine via the native codegen'd expression (graft.functions
    * .CosineSimilarity) — bitwise-equal to the HOF formulation but with no
    * per-row array allocation. Callers must have run
    * [[graft.functions.GraftFunctions.register]] on the session (all
    * Similarity entry points do). */
  def cosineCol(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Exact top-k cosine neighbors for each query vector (brute force).
    * queries/base: (id, vec). */
  def bruteForceKnn(queries: DataFrame, base: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col("id").as("qid"), col("vec").as("qv"))
    val b = base.select(col("id").as("nid"), col("vec").as("nv"))
    topPerQuery(q.join(b, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosineCol(col("qv"), col("nv")).as("sim")),
      "sim", k)
  }

  /** The top `n` rows per `qid` by (`simCol` desc, nid asc) — the one
    * candidate order of the kNN family. Every scan's [[boundedInsert]]
    * heaps prune for exactly this window, which is what makes their
    * results independent of partitioning. */
  private[operators] def topPerQuery(df: DataFrame, simCol: String, n: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col(simCol).desc, col("nid").asc)))
      .filter(col("rn") <= n)
      .drop("rn")

  /** Exact-cosine re-rank of (qid, nid) candidates: join the true query
    * vectors and `vecs` — (nid, vec) rows — and keep the top `k` per query
    * by [[topPerQuery]]. The tail of [[pqKnn]] and the IVF-PQ probe. */
  private[operators] def exactRerank(candidates: DataFrame,
      queries: Dataset[(Long, Array[Float])], vecs: DataFrame, k: Int): DataFrame =
    topPerQuery(candidates.join(vecs.toDF("nid", "nv"), "nid")
      .join(queries.toDF("qid", "qv"), "qid")
      .select(col("qid"), col("nid"), cosineCol(col("qv"), col("nv")).as("sim")),
      "sim", k)

  // ---------------- random-hyperplane LSH ----------------

  /** Deterministic pseudo-random hyperplane component for (plane, dim). */
  @inline private def planeComponent(plane: Int, dim: Int): Double = {
    // map a mixed 64-bit hash to (-1, 1)
    mix64(plane.toLong << 32 | dim.toLong).toDouble / Long.MaxValue.toDouble
  }

  /** Sign-pattern bucket of a vector under `planes` random hyperplanes. */
  def hyperplaneBucket(vec: Array[Float], planes: Int): Int = {
    var bucket = 0
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var d = 0
      while (d < vec.length) { dot += vec(d) * planeComponent(p, d); d += 1 }
      if (dot > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Buckets with multi-probe: the exact bucket plus all single-bit flips
    * (catches neighbors that fall just across one hyperplane). */
  def probeBuckets(vec: Array[Float], planes: Int): Array[Int] = {
    val b = hyperplaneBucket(vec, planes)
    val out = new Array[Int](planes + 1)
    out(0) = b
    var p = 0
    while (p < planes) { out(p + 1) = b ^ (1 << p); p += 1 }
    out
  }

  /** ANN top-k: bucket the base once, probe each query's adjacent buckets,
    * exact cosine only within candidate buckets. vectors: (id, vec). */
  def lshKnn(queries: Dataset[(Long, Array[Float])],
      base: Dataset[(Long, Array[Float])], k: Int, planes: Int = 12): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val baseB = base.map { case (id, v) =>
      (hyperplaneBucket(v, planes), id, v)
    }.toDF("bucket", "nid", "nv")
    val queryB = queries.flatMap { case (id, v) =>
      probeBuckets(v, planes).iterator.map(b => (b, id, v))
    }.toDF("bucket", "qid", "qv")
    topPerQuery(queryB.join(baseB, Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosineCol(col("qv"), col("nv")).as("sim"))
      .distinct(), "sim", k)
  }

  // ---------------- query-side sharding ----------------

  /** Default cap on query rows collected + broadcast per scan shard. At
    * 64-dim float32 one shard is ~16 MB of vectors plus per-query lookup
    * tables — comfortably inside any driver/executor budget. */
  val DefaultQueryShardBound: Int = 1 << 16

  /** Auto-sharded driver for the query side of the kNN family.
    *
    * Every scan here broadcasts the query set (per-query bounded heaps need
    * all of a query's state on every partition); r11 bounded that with a
    * documented "collect ≤ bound queries" contract. This replaces the
    * contract with an auto-select: Q ≤ `bound` runs exactly the historical
    * single-collect path; Q > `bound` iterates deterministic hash shards of
    * the query set (`floorMod(mix64(qid), nShards)` — uniform even on
    * block-contiguous ids), materializing each shard's FINAL top-k with
    * `localCheckpoint` so the shard's broadcasts are destroyed before the
    * next shard is collected. Driver memory stays O(bound·dim) regardless
    * of Q; the corpus pays one scan per shard (the unavoidable trade — at
    * 100 TB pick `bound` so shards are few and each scan stays
    * bandwidth-bound).
    *
    * Byte-identical to the unsharded path: per-query results depend only on
    * the base, the per-shard window equals the global window restricted to
    * the shard's qids, and the shards partition the qids — proven by
    * DedupSpec's sharded-vs-off equality tests and the v06/v10 oracles,
    * which run WITH a sub-Q bound.
    *
    * `scan(qArr)` must return the final per-query top-k frame for exactly
    * the queries in qArr plus a cleanup dropping the shard's broadcasts.
    * On the UNSHARDED path the cleanup deliberately never runs: the
    * returned frame is lazy and its tasks reference the broadcasts, so
    * destroying them before the caller's action would break it — their
    * lifetime is the frame's, reclaimed by the ContextCleaner once the
    * caller drops the reference (serving loops that retain many result
    * frames retain their broadcasts with them, ~O(bound·dim) each).
    * Hash shards are a memory TARGET, not a hard cap (uniform ±sqrt
    * deviation). localCheckpoint truncates lineage: an executor loss while
    * shard results are held fails the job instead of recomputing — swap in
    * a reliable checkpoint dir for failure-prone fleets. Checkpointed
    * blocks are reclaimed by the ContextCleaner once the returned frame is
    * unreferenced. */
  private[operators] def shardedKnn(queries: Dataset[(Long, Array[Float])], bound: Int)(
      scan: Array[(Long, Array[Float])] => (DataFrame, () => Unit))
      : DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(bound > 0, s"queryBound must be positive, got $bound")
    val nonNull = queries.filter(_._2 != null)
    // probe with limit(bound+1): the common bounded case pays no count()
    val head = nonNull.limit(bound + 1).collect()
    if (head.isEmpty)
      return spark.emptyDataset[(Long, Long, Double)].toDF("qid", "nid", "sim")
    if (head.length <= bound) return scan(head.sortBy(_._1))._1
    val nShards = math.max(2,
      math.ceil(nonNull.count().toDouble / bound).toInt)
    val parts = (0 until nShards).flatMap { i =>
      val shard = nonNull
        .filter(q => Math.floorMod(mix64(q._1), nShards.toLong) == i.toLong)
        .collect().sortBy(_._1)
      if (shard.isEmpty) None
      else {
        val (df, cleanup) = scan(shard)
        val pinned = df.localCheckpoint(true)
        cleanup()
        Some(pinned)
      }
    }
    parts.reduce(_ union _)
  }

  // ---------------- IVF (inverted-file) ANN ----------------

  /** IVF top-k: the DETERMINISTIC integer k-means ([[Clustering]]'s exact
    * Lloyd's over milli-quantized vectors — init from the nCells smallest
    * ids, exact long distances, round-half-up centroid updates) partitions
    * the base into cells; queries probe the nProbe nearest centroids (by
    * exact long distance, ties to the smallest cell id, via the native
    * broadcast-matrix [[graft.functions.NearestCentroids]] expression) and
    * run exact float cosine only inside those cells. The alternative scale
    * path to hyperplane LSH: recall tunes with nProbe, the cell assignment
    * is one narrow codegen'd pass over the base, and — unlike a float
    * k-means quantizer — every step is bit-reproducible in any engine, so
    * the whole lane carries a DuckDB SQL oracle (v06).
    *
    * Query-side shape (since r12): [[shardedKnn]] auto-select — Q ≤
    * `queryBound` collects + broadcasts once (the historical path); beyond
    * it, deterministic query shards each pay one corpus scan, byte-
    * identical results (the v06 oracle runs with a sub-Q bound). Training
    * happens once across shards. Null vectors on either side are dropped,
    * exactly as the old join plan's null-safe expressions dropped them. */
  def ivfKnn(queries: Dataset[(Long, Array[Float])],
      base: Dataset[(Long, Array[Float])], k: Int, nCells: Int = 16,
      nProbe: Int = 3, iters: Int = 3, trainN: Int = 1 << 17,
      scatter: Boolean = false,
      queryBound: Int = DefaultQueryShardBound): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val bDf = base.toDF("nid", "nv")
    // quantizer training is SAMPLE-BOUNDED (faiss-style): one full pass
    // takes the trainN smallest ids (deterministic, so the v06 oracle
    // re-derives the same sample with ORDER BY vec_id LIMIT trainN),
    // materialized once — the iters Lloyd's scans then touch only the
    // sample, never the corpus. Cell ASSIGNMENT below is still the one
    // required full pass. `scatter` draws the sample (and the Lloyd's
    // init) from the (md5(id), id) permutation instead of the smallest
    // ids — the [[Clustering.initOrder]] robustness setting for
    // block-contiguous id layouts, equally deterministic. Lazy: trained
    // on the first shard only, never for an empty query set.
    lazy val cents = {
      val q0 = bDf.select(col("nid").as("vec_id"),
        Clustering.quantize(col("nv")).as("qv"))
      val cached = q0.sort(Clustering.initOrder(scatter): _*).limit(trainN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try Clustering.kmeansCentroids(cached, nCells, iters, scatter)
      finally cached.unpersist(blocking = false)
    }

    // probe lists driver-side: exact long distances, (dist, cid) ties —
    // the NearestCentroids ordering, re-derived by the v06 oracle. The
    // scan is ONE narrow mapPartitions pass over the base (cell argmin +
    // exact cosine against the broadcast probing queries + bounded
    // per-query top-k heaps), not a probe×cell equi-join: the join+window
    // shape materialized every candidate row into a shuffle, which the
    // knn volume stress measured at 3-5x the cost of this scan (a base
    // row lives in ONE cell, so no dedup stage is needed either). The
    // heaps only PRUNE — (sim desc, nid asc) total-order bounded
    // insertion is a superset of the global top-k — so [[topPerQuery]]
    // reduces their union to exactly the former plan's answer:
    // partitioning-independent, byte-identical, same SQL oracle.
    shardedKnn(queries, queryBound) { qArr =>
      import spark.implicits._
      val nP = math.min(nProbe, nCells)
      val qData = qArr.map { case (qid, qv) =>
        (qid, qv, probeCells(quantizeJvm(qv), cents, nP))
      }
      val cellQueries = invertProbes(qData.map(_._3), nCells)
      val bcCents = spark.sparkContext.broadcast(cents)
      val bcQ = spark.sparkContext.broadcast(qData.map(q => (q._1, q._2)))
      val bcCellQ = spark.sparkContext.broadcast(cellQueries)

      val scored = base.filter(_._2 != null).mapPartitions { it =>
        val cents = bcCents.value
        val qs = bcQ.value
        val cellQ = bcCellQ.value
        val dim = cents(0).length
        val heapSim = Array.fill(qs.length)(new Array[Double](k))
        val heapId = Array.fill(qs.length)(new Array[Long](k))
        val heapN = new Array[Int](qs.length)
        for ((nid, nv) <- it) {
          val cell = nearestSub(quantizeJvm(nv), 0, dim, cents)
          val qIdxs = cellQ(cell)
          var qi = 0
          while (qi < qIdxs.length) {
            val q = qIdxs(qi)
            val (qid, qv) = qs(q)
            if (qid != nid) {
              // the exact-cosine kernel, same op order as the native
              // cosine_sim expression (VectorKernels.cosine) — bitwise-equal
              // sims, so the window result matches the former join plan
              val n = math.min(qv.length, nv.length)
              var dot = 0.0; var na = 0.0; var nb = 0.0
              var i = 0
              while (i < n) {
                val x = qv(i).toDouble; val y = nv(i).toDouble
                dot += x * y; na += x * x; nb += y * y
                i += 1
              }
              val sim = dot / (math.sqrt(na) * math.sqrt(nb))
              heapN(q) = boundedInsert(heapSim(q), heapId(q), heapN(q), k, sim, nid)
            }
            qi += 1
          }
        }
        drainHeaps(qs.map(_._1), heapSim, heapId, heapN)
      }.toDF("qid", "nid", "sim")
      (topPerQuery(scored, "sim", k), () => {
        bcQ.destroy(); bcCellQ.destroy(); bcCents.destroy()
      })
    }
  }

  // ---------------- int8 scalar quantization ----------------

  /** Symmetric per-vector int8 quantization: scale = maxAbs/127, codes are
    * round(v/scale). 4x smaller storage/scan than float32 with ~0.5% cosine
    * error — the standard first rung of the embedding-compression ladder
    * (PQ below is the 32x rung). */
  def quantizeInt8(v: Array[Float]): (Float, Array[Byte]) = {
    var maxAbs = 0f
    var i = 0
    while (i < v.length) { val a = math.abs(v(i)); if (a > maxAbs) maxAbs = a; i += 1 }
    val scale = if (maxAbs == 0f) 1f else maxAbs / 127f
    val q = new Array[Byte](v.length)
    i = 0
    while (i < v.length) { q(i) = math.round(v(i) / scale).toByte; i += 1 }
    (scale, q)
  }

  /** Cosine between a float query and an int8-quantized vector: integer
    * multiply-accumulate over the codes (the per-vector scale cancels in
    * the normalization, so it never needs to be applied element-wise). */
  def cosineInt8(q: Array[Float], codes: Array[Byte]): Double = {
    var dot = 0.0; var qn = 0.0; var cn = 0.0
    var i = 0
    while (i < q.length) {
      val c = codes(i).toDouble
      dot += q(i) * c; qn += q(i).toDouble * q(i); cn += c * c
      i += 1
    }
    if (qn == 0.0 || cn == 0.0) 0.0 else dot / math.sqrt(qn * cn)
  }

  /** Bounded insertion into a (sim desc, nid asc)-ordered candidate list.
    * The tie-break on nid makes partition-local pruning agree with the
    * global window ordering, so results are independent of partitioning
    * even with duplicate vectors. Comparisons use java.lang.Double.compare
    * — the TOTAL order Spark's sort (and DuckDB's) applies to doubles — so
    * a NaN sim (zero-norm degenerate vectors under exact cosine) ranks
    * above every finite value here exactly as it would in the window the
    * heap prunes for, instead of falling through `<`'s always-false NaN
    * comparisons into an arbitrary slot. Shared by the [[int8Knn]],
    * [[pqKnn]] and [[ivfKnn]] scans and the IVF-PQ [[AnnIndex.probe]]; the
    * window it prunes for is [[topPerQuery]]. */
  private[operators] def boundedInsert(sims: Array[Double], ids: Array[Long], n: Int,
      cap: Int, sim0: Double, nid: Long): Int = {
    // normalize -0.0 to +0.0: java.lang.Double.compare orders -0.0 < 0.0
    // but Spark's SQL double sort treats them as equal (tie-break on nid),
    // so an unnormalized -0.0 could prune a row the global window keeps
    val sim = sim0 + 0.0
    val full = n == cap
    if (full) {
      val c = java.lang.Double.compare(sim, sims(n - 1))
      if (c < 0 || (c == 0 && nid > ids(n - 1))) return n
    }
    var pos = math.min(n, cap - 1)
    var go = pos > 0
    while (go) {
      val c = java.lang.Double.compare(sims(pos - 1), sim)
      if (c < 0 || (c == 0 && ids(pos - 1) > nid)) {
        sims(pos) = sims(pos - 1); ids(pos) = ids(pos - 1)
        pos -= 1
        go = pos > 0
      } else go = false
    }
    sims(pos) = sim; ids(pos) = nid
    if (full) n else n + 1
  }

  /** Exact-over-quantized top-k: the corpus is scanned as int8 codes
    * (id, codes + precomputed code norm — the storage format at 100 TB),
    * queries broadcast with precomputed norms, per-partition bounded
    * candidate lists as in [[pqKnn]] — only the dot product runs per pair.
    * No re-rank stage: int8 cosine is within quantization error of the
    * true value (asserted in the spec), so the scan result IS the answer. */
  def int8Knn(queries: Dataset[(Long, Array[Float])],
      base: Dataset[(Long, Array[Float])], k: Int,
      queryBound: Int = DefaultQueryShardBound): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val quantized = base.filter(_._2 != null).map { case (id, v) =>
      val (_, q) = quantizeInt8(v)
      var cn = 0.0; q.foreach(c => cn += c.toDouble * c)
      (id, math.sqrt(cn), q)
    }
    shardedKnn(queries, queryBound) { qRaw =>
    val qArr = qRaw.map { case (qid, qv) =>
      var qn = 0.0; qv.foreach(x => qn += x.toDouble * x)
      (qid, qv, math.sqrt(qn))
    }
    val bcQ = spark.sparkContext.broadcast(qArr)
    val topk = quantized.mapPartitions { it =>
      val qs = bcQ.value
      val heapSim = Array.fill(qs.length)(new Array[Double](k))
      val heapId = Array.fill(qs.length)(new Array[Long](k))
      val heapN = new Array[Int](qs.length)
      for ((nid, cnorm, codes) <- it) {
        var q = 0
        while (q < qs.length) {
          val (qid, qv, qnorm) = qs(q)
          if (qid != nid) {
            var dot = 0.0
            var i = 0
            // toDouble BEFORE the multiply: Float * Byte would multiply in
            // float32 and round once per term — every other kernel here
            // (VectorKernels, cosineInt8) accumulates double products, and
            // the one-ulp term differences flip round(sim, 6) boundary
            // cases against the DuckDB oracle (caught at sf0.1)
            while (i < qv.length) { dot += qv(i).toDouble * codes(i); i += 1 }
            val sim = if (qnorm == 0.0 || cnorm == 0.0) 0.0 else dot / (qnorm * cnorm)
            heapN(q) = boundedInsert(heapSim(q), heapId(q), heapN(q), k, sim, nid)
          }
          q += 1
        }
      }
      drainHeaps(qs.map(_._1), heapSim, heapId, heapN)
    }.toDF("qid", "nid", "sim")
    (topPerQuery(topk, "sim", k), () => bcQ.destroy())
    }
  }

  // ---------------- product quantization (PQ) ----------------

  /** Milli-quantization of one vector in plain JVM arithmetic — the same
    * IEEE ops as the [[Clustering.quantize]] column (float64 multiply, add,
    * floor), so a mapPartitions kernel and a Catalyst expression derive
    * identical longs from identical floats. */
  def quantizeJvm(v: Array[Float]): Array[Long] = {
    val out = new Array[Long](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = math.floor(v(i).toDouble * Clustering.Quantum + 0.5).toLong
      i += 1
    }
    out
  }

  /** PQ codebooks `[subspace][centroid][subDim]` (Jégou et al., TPAMI 2011:
    * split d dims into S subspaces, k-means each independently; a vector is
    * S small codes). Trained driver-side on a DETERMINISTIC sample (sorted
    * ids, first trainN) with the SAME exact integer Lloyd's as
    * [[Clustering.kmeansCentroids]]: milli-quantized longs, init from the
    * first `centroids` sample rows, exact long distances with ties to the
    * smallest index, round-half-up centroid updates, empty clusters keep
    * their previous centroid. Every step is bit-reproducible in SQL, which
    * is what lets v07 carry a full DuckDB oracle. Codebooks are tiny
    * (S*K*subDim longs, broadcast) and training cost is bounded by the
    * sample, never the corpus. */
  def trainPqCodebooks(base: Dataset[(Long, Array[Float])], subspaces: Int,
      centroids: Int, trainN: Int = 256, iters: Int = 3,
      scatter: Boolean = false): Array[Array[Array[Long]]] = {
    requireByteCodes(centroids)
    val sample = collectTrainSample(base, trainN, scatter)
    trainSubspaceCodebooks(sample, subspaces, centroids, iters)
  }

  /** PQ codes are one byte per subspace ([[pqEncode]]); a codebook of more
    * than 256 centroids would wrap centroid 256 onto centroid 0. */
  private[operators] def requireByteCodes(centroids: Int): Unit =
    require(centroids <= 256,
      s"PQ codes are one byte: centroids <= 256, got $centroids")

  /** The deterministic quantized training sample shared by the PQ family:
    * the `trainN` first rows by id order — or, with `scatter`, by the
    * (md5(id), id) permutation ([[Clustering.initOrder]]'s robustness
    * setting for block-contiguous id layouts). Collected driver-side
    * (trainN·dim·8 bytes — budget like any driver-side stat). */
  private[operators] def collectTrainSample(base: Dataset[(Long, Array[Float])],
      trainN: Int, scatter: Boolean): Array[Array[Long]] = {
    val spark = base.sparkSession
    import spark.implicits._
    // normalize column names: tuple datasets from source tables keep their
    // original names (vec_id, embedding), so sort positionally; the
    // ordering is Clustering.initOrder — ONE definition of the scatter
    // permutation, so the clustering and ANN oracles can never diverge
    base.toDF("id", "vec")
      .sort(Clustering.initOrder(scatter, idCol = "id"): _*)
      .limit(trainN).select("vec").as[Array[Float]].collect()
      .map(quantizeJvm)
  }

  /** The driver-side per-subspace integer Lloyd's over an already-collected
    * quantized sample — the shared training kernel of [[trainPqCodebooks]]
    * (raw vectors) and [[AnnIndex.train]] (coarse centroids via
    * subspaces = 1, then codebooks over RESIDUALS). Exactly the [[Clustering]] update
    * rules: init from the first `centroids` sample rows, exact long
    * distances with (dist, index) ties, round-half-up means, empty
    * clusters keep their previous centroid. */
  private[operators] def trainSubspaceCodebooks(sample: Array[Array[Long]],
      subspaces: Int, centroids: Int, iters: Int): Array[Array[Array[Long]]] = {
    require(sample.length >= centroids,
      s"need at least $centroids training vectors, got ${sample.length}")
    val dims = sample(0).length
    require(dims % subspaces == 0, s"dims $dims not divisible by $subspaces")
    val sub = dims / subspaces
    Array.tabulate(subspaces) { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      var cents = Array.tabulate(centroids)(i => pts(i).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(centroids)(new Array[Long](sub))
        val counts = new Array[Long](centroids)
        for (p <- pts) {
          val best = nearestSub(p, 0, sub, cents)
          var i = 0
          while (i < sub) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(centroids) { c =>
          if (counts(c) == 0) cents(c)
          // round-half-up of the exact rational mean, in integers — the
          // Clustering.kmeansCentroids update rule
          else Array.tabulate(sub)(i =>
            Math.floorDiv(2 * sums(c)(i) + counts(c), 2 * counts(c)))
        }
      }
      cents
    }
  }

  /** Nearest codebook entry for the subvector p[off, off+len): exact long
    * distance, ties to the smallest index (strict-improvement argmin).
    * Offset-based so the per-row encode loop never copies subvectors. */
  private[operators] def nearestSub(p: Array[Long], off: Int, len: Int,
      cents: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0L; var i = 0
      val m = cents(c)
      while (i < len) { val t = p(off + i) - m(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `nP` nearest cells of a quantized vector by (exact long distance,
    * cell index) — the [[graft.functions.NearestCentroids]] ordering,
    * shared by [[ivfKnn]] and the IVF-PQ [[AnnIndex.probe]] so the probe
    * rule (and the v06/v10 oracles that re-derive it) can never diverge
    * between them. */
  private[operators] def probeCells(qvl: Array[Long], cents: Array[Array[Long]],
      nP: Int): Array[Int] = {
    val dim = qvl.length
    cents.zipWithIndex.map { case (m, c) =>
      var d = 0L; var i = 0
      while (i < dim) { val t = qvl(i) - m(i); d += t * t; i += 1 }
      (d, c)
    }.sorted.take(nP).map(_._2)
  }

  /** cell -> indices of the queries probing it (insertion order kept). */
  private[operators] def invertProbes(probes: Array[Array[Int]],
      nCells: Int): Array[Array[Int]] = {
    val m = Array.fill(nCells)(List.empty[Int])
    probes.zipWithIndex.foreach { case (ps, qi) =>
      ps.foreach(c => m(c) = qi :: m(c))
    }
    m.map(_.reverse.toArray)
  }

  /** Drain the per-query bounded heaps into (qid, nid, sim) tuples. */
  private[operators] def drainHeaps(qids: Array[Long], heapSim: Array[Array[Double]],
      heapId: Array[Array[Long]],
      heapN: Array[Int]): Iterator[(Long, Long, Double)] =
    qids.indices.iterator.flatMap { q =>
      (0 until heapN(q)).iterator.map(i => (qids(q), heapId(q)(i), heapSim(q)(i)))
    }

  /** Exact long dot of `a[off, off + b.length)` with `b`. */
  private[operators] def dotLong(a: Array[Long], off: Int, b: Array[Long]): Long = {
    var d = 0L; var i = 0
    while (i < b.length) { d += a(off + i) * b(i); i += 1 }
    d
  }

  /** Exact long squared norm. */
  private[operators] def sumSq(v: Array[Long]): Long = dotLong(v, 0, v)

  /** The asymmetric-distance lookup table of one quantized vector against
    * PQ codebooks `[subspace][centroid][subDim]`: `[s][j]` = exact long
    * dot of the vector's subspace-`s` slice with centroid `j`. */
  private[operators] def adcTable(qvl: Array[Long],
      books: Array[Array[Array[Long]]]): Array[Array[Long]] = {
    val sub = books(0)(0).length
    Array.tabulate(books.length, books(0).length)((s, j) =>
      dotLong(qvl, s * sub, books(s)(j)))
  }

  /** PQ code of one quantized vector: per-subspace nearest centroid index
    * (one byte each — centroids <= 256). Allocation-free beyond the output
    * byte array — this runs once per corpus row in the PQ scan. */
  def pqEncode(qv: Array[Long], codebooks: Array[Array[Array[Long]]]): Array[Byte] = {
    val subspaces = codebooks.length
    val sub = qv.length / subspaces
    val out = new Array[Byte](subspaces)
    var s = 0
    while (s < subspaces) {
      out(s) = nearestSub(qv, s * sub, sub, codebooks(s)).toByte
      s += 1
    }
    out
  }

  /** PQ ANN top-k with exact re-ranking. The scale path for similarity
    * search proper: the corpus is scanned as S-byte codes (32x smaller than
    * 64-dim float vectors — at 100 TB of embeddings the scan becomes memory-
    * bandwidth bound, which is exactly what PQ buys), approximate cosine is
    * S table lookups per pair (asymmetric distance: query-to-centroid dot
    * tables computed once per query), each partition keeps only a bounded
    * per-query candidate heap (partitions x Q x rerank rows ever shuffle —
    * never N x Q), and only the surviving candidates are re-ranked with
    * exact cosine against their true vectors.
    *
    * Deterministic end to end (r10 verdict ask): codebooks come from the
    * exact integer Lloyd's ([[trainPqCodebooks]]), dot tables and norms
    * are exact longs, the approximate cosine is a double function of exact
    * integers, and the candidate set is the GLOBAL top-rr per query by
    * (approx sim desc, nid asc) — the per-partition heaps only PRUNE (a
    * partition-local top-rr is a superset of the global one); a window
    * reduces their union to exactly the global top-rr, so the result is
    * independent of partitioning and the whole lane is SQL-reproducible
    * (the v07 DuckDB oracle re-derives training, encoding, ADC scan and
    * re-rank).
    *
    * The query side runs through [[shardedKnn]] (auto-sharded beyond
    * `queryBound`, training shared across shards); the corpus side stays a
    * single narrow pass per shard. */
  def pqKnn(queries: Dataset[(Long, Array[Float])],
      base: Dataset[(Long, Array[Float])], k: Int, subspaces: Int = 8,
      centroids: Int = 16, rerank: Int = 32, trainN: Int = 256,
      iters: Int = 3, scatter: Boolean = false,
      queryBound: Int = DefaultQueryShardBound): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // lazy: trained once, on the first shard — an empty query set never
    // pays the training pass (shardedKnn returns before touching it)
    lazy val books = trainPqCodebooks(base, subspaces, centroids, trainN,
      iters, scatter)
    lazy val centNorm2 = books.map(_.map(sumSq))
    shardedKnn(queries, queryBound) { qArr =>
    import spark.implicits._
    val dim = subspaces * books(0)(0).length
    for ((qid, qv) <- qArr) require(qv.length == dim,
      s"query $qid has dim ${qv.length}, the PQ codebooks expect $dim")
    val bcBooks = spark.sparkContext.broadcast(books)

    // per-query lookup tables: EXACT long dot(q_sub, centroid) and exact
    // long norms; approx cosine = sum(dots) / (|q| * sqrt(sum |c|^2))
    val qTables = qArr.map { case (qid, qv) =>
      val qvl = quantizeJvm(qv)
      (qid, adcTable(qvl, books), math.sqrt(sumSq(qvl).toDouble))
    }
    val bcQ = spark.sparkContext.broadcast(qTables)
    val bcCN = spark.sparkContext.broadcast(centNorm2)
    val rr = rerank.max(k)

    // one narrow pass: quantize + encode + approximate + per-partition
    // bounded top-rr prune
    val scored = base.filter(_._2 != null).mapPartitions { it =>
      val books = bcBooks.value
      val qs = bcQ.value
      val cn = bcCN.value
      // per query: (approx sims, ids) bounded min-heaps as sorted arrays
      val heapSim = Array.fill(qs.length)(new Array[Double](rr))
      val heapId = Array.fill(qs.length)(new Array[Long](rr))
      val heapN = new Array[Int](qs.length)
      for ((nid, nv) <- it) {
        val code = pqEncode(quantizeJvm(nv), books)
        var q = 0
        while (q < qs.length) {
          val (qid, table, qnorm) = qs(q)
          if (qid != nid) {
            var dot = 0L; var n2 = 0L; var s = 0
            while (s < code.length) {
              val c = code(s) & 0xff
              dot += table(s)(c); n2 += cn(s)(c); s += 1
            }
            val sim = if (qnorm == 0.0 || n2 == 0L) 0.0
              else dot.toDouble / (qnorm * math.sqrt(n2.toDouble))
            // (sim desc, nid asc)-ordered bounded insertion: partitioning-
            // independent candidate sets even on tied approximate sims
            heapN(q) = boundedInsert(heapSim(q), heapId(q), heapN(q), rr, sim, nid)
          }
          q += 1
        }
      }
      drainHeaps(qs.map(_._1), heapSim, heapId, heapN)
    }.toDF("qid", "nid", "asim")
    // reduce the union of partition-local top-rr prunes to the GLOBAL
    // top-rr per query — at most partitions x Q x rr tiny rows enter this
    // window, and the result no longer depends on the partitioning
    val candidates = topPerQuery(scored, "asim", rr).select("qid", "nid")
    (exactRerank(candidates, queries, base.toDF(), k), () => {
      bcQ.destroy(); bcCN.destroy(); bcBooks.destroy()
    })
    }
  }

  /** IVF-PQ ANN top-k (Jégou et al.'s IVFADC — the architecture 100 TB
    * similarity search actually ships): a coarse integer k-means splits the
    * corpus into `nCells` inverted lists, each vector stores only its cell
    * id + an S-byte product-quantized code of its RESIDUAL from the cell
    * centroid, queries probe the `nProbe` nearest cells, and the scan
    * scores only probed-cell members via lookup tables before an exact
    * re-rank of the global top-`rerank` candidates.
    *
    * Residual encoding is what plain [[pqKnn]] lacks on clustered data:
    * there the codebooks must span the whole embedding space, so most of
    * the code budget burns on BETWEEN-cluster variance; here the coarse
    * centroid absorbs it and the codebooks model only the local residual
    * field — recall rises at the same code size while the scan also drops
    * to nProbe/nCells of the corpus. (The `knn` volume stress records the
    * measured three-way comparison.)
    *
    * Exact integer arithmetic end to end, like every kernel here, so the
    * whole lane carries a DuckDB oracle (v10). One implementation: this is
    * [[AnnIndex.train]] + [[AnnIndex.encode]] + the [[AnnIndex.probe]] a
    * stored index runs ([[AnnIndex.query]]), over the freshly encoded base
    * and with `base` itself as the re-rank side. Queries collect +
    * broadcast (bounded, auto-sharded past `queryBound`); the corpus side
    * is one narrow encode + scan pass emitting ≤ partitions × Q × rerank
    * candidate rows.
    *
    * Sizing (measured in the dossier's knn-stress sweep): `rerank` is the
    * RECALL lever — with ~corpus·nProbe/nCells approx-scored candidates
    * per query, an exact re-rank pool of only a few× k truncates true
    * neighbors the code distortion mis-ranked (rerank=64 → recall 0.76,
    * rerank=256 → 1.000 at 100k rows, k=10, identical scan cost); size it
    * ~10–25× k. `trainN` follows the faiss ~256-points-per-cell guideline;
    * the training sample is collected driver-side (trainN·dim·8 bytes —
    * budget it like any driver-side stat). `scatter` hash-permutes the
    * sample order (see [[Clustering.initOrder]]) — the robust setting when
    * ids are block-contiguous per source shard. */
  def ivfPqKnn(queries: Dataset[(Long, Array[Float])],
      base: Dataset[(Long, Array[Float])], k: Int, nCells: Int = 8,
      nProbe: Int = 3, subspaces: Int = 8, centroids: Int = 16,
      rerank: Int = 32, trainN: Int = 256, iters: Int = 3,
      scatter: Boolean = false,
      queryBound: Int = DefaultQueryShardBound): DataFrame = {
    import base.sparkSession.implicits._
    // lazy: trained and encoded once, on the first query shard — an empty
    // query set never pays the training pass
    lazy val model = AnnIndex.train(base, nCells, subspaces, centroids,
      trainN, iters, scatter)
    lazy val codes = AnnIndex.encode(model, base).map(r => (r._1, r._2, r._3))
    AnnIndex.probe(queries, model, k, nProbe, rerank, queryBound)(
      _ => codes, _ => base.toDF())
  }

  /** All pairs above a cosine threshold via LSH buckets (near-dup detection
    * for embeddings). Buckets larger than `maxBucket` are dropped
    * ([[Dedup.capBuckets]]): embedding mass concentrated on one side of all
    * hyperplanes (e.g. near-zero vectors) would otherwise pair
    * quadratically. The internal banded cache lands in `scope` — pass a
    * managed [[Dedup.CacheScope]] from long-lived sessions (the curate CLI
    * does) and release it once the result is consumed. */
  def cosineDedup(vectors: Dataset[(Long, Array[Float])], threshold: Double,
      planes: Int = 12, maxBucket: Int = Dedup.DEFAULT_MAX_BUCKET,
      scope: Dedup.CacheScope = Dedup.CacheScope.unmanaged): DataFrame = {
    val spark = vectors.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val banded0 = vectors.flatMap { case (id, v) =>
      probeBuckets(v, planes).iterator.map(b => (b, id, v))
    }.toDF("bucket", "id", "vec")
    // persist the capped result: window evaluated once, both sides share it
    val banded = scope.track(Dedup.capBuckets(banded0, Seq("bucket"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, expr("a.bucket = b.bucket AND a.id < b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineCol(col("a.vec"), col("b.vec")).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }
}
