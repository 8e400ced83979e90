package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** sf1.0 contract gate for the probabilistic ANN lanes (r18 verdict ask
  * #4). The v04/v06/v07/v08/v10 oracles are EXACT derivations of the
  * approximate algorithms (DuckDB re-derives buckets/cells/codebooks), so
  * they verify correctness at any scale they can run — but they say
  * nothing about the QUALITY dimension that silently degrades with scale:
  * recall against the true neighbors. This tool holds each lane (in its
  * production configuration) to TWO measured contracts on a deterministic
  * bounded query sample:
  *
  *  - `planted_recall` (the strong gate): near-duplicate vectors
  *    (cos ≈ 0.999, deterministic noise) are planted into the base; the
  *    lane must surface a query's planted twin in its top-k. This is the
  *    regime approximate search is FOR, and it holds at any corpus scale —
  *    floors sit at the method's own analytic rate (e.g. hyperplane LSH at
  *    10 planes misses a 0.999-sim twin only when ≥2 planes flip:
  *    P ≈ 0.009).
  *  - `recall_at_k` (the breakage detector): unconditional recall@k vs
  *    exact brute-force top-k. The synthetic embeddings' true top-3 sims
  *    are ~0.38 (measured sf0.1: mean 0.386, p90 0.431), where LSH/PQ
  *    recall is LOW by theory (v04 measured 0.075 ≈ the 0.628^10
  *    multi-probe curve) — so floors here are set just above the
  *    broken-pipeline level (random-candidate recall ≈ k/N < 0.002), not
  *    at a quality bar the data cannot support.
  *
  * Emits one JSON file: { lanes: { name: {planted_recall, recall_at_k,
  * floors, contract, ok} }, ... } — merged into CORRECTNESS_sf1.json by
  * tools/gate_sf1.sh so the sf1.0 artifact names the contract each ANN
  * lane is held to instead of silently exact-or-nothing.
  *
  * Usage: runMain graft.tools.AnnRecallGate <sfDir> [outJson]
  */
object AnnRecallGate {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args.lift(1).getOrElse("/tmp/ann_recall_gate.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.Similarity

    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    // deterministic query sample: the lanes themselves use vec_id < 20;
    // the gate widens to 200 so recall@3 has 600 decision points
    val qBound = sys.env.getOrElse("SPARK_GRAFT_ANN_QUERIES", "200").toLong
    val k = 3
    val queries = vecs.filter(_._1 < qBound).persist()
    val maxId = vecs.map(_._1).reduce(math.max)
    // planted near-duplicates: one per query, id = maxId+1+qid, vector =
    // query + 2% deterministic (mix64-seeded) noise -> cos ≈ 0.999. The
    // designed regime of every ANN method here, at ANY corpus scale.
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val planted = queries.map { case (id, v) =>
      val w = v.zipWithIndex.map { case (x, d) =>
        val u = mix64(id * 131 + d).toDouble / Long.MaxValue // (-1, 1)
        x + 0.02f * u.toFloat
      }
      (maxId + 1 + id, w)
    }
    val base = vecs.union(planted).persist()
    val nQ = queries.count()
    val nBase = base.count()

    // ground truth: exact cosine top-k over the planted-augmented base
    // (ties broken (sim desc, nid asc) exactly as every ANN lane breaks
    // them). The planted twin is essentially always rank 1.
    val exact = Similarity.bruteForceKnn(
        queries.toDF("id", "vec"), base.toDF("id", "vec"), k)
      .select(col("qid").cast("long"), col("nid").cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

    def measure(df: DataFrame): (Double, Double) = {
      val got = df.select(col("qid").cast("long"), col("nid").cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (q, rs) => q -> rs.map(_._2).toSet }
      val per = exact.toSeq.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
      }
      val recallAtK = if (per.isEmpty) 0.0 else per.sum / per.size
      val hits = exact.keys.count(q =>
        got.getOrElse(q, Set.empty).contains(maxId + 1 + q))
      val plantedRecall =
        if (exact.isEmpty) 0.0 else hits.toDouble / exact.size
      (recallAtK, plantedRecall)
    }

    // Each lane runs the EXACT configuration its oracle lane runs
    // (PipelineQueries v04/v06/v07/v08/v10), only with the wider query
    // sample and the planted twins in the base. Floors: see the scaladoc —
    // plantedFloor at the method's analytic find rate minus margin,
    // broadFloor just above broken-pipeline level (measured sf0.1 values
    // in docs/PLANS.md r19).
    val lanes: Seq[(String, String, Double, Double, () => DataFrame)] = Seq(
      ("v04_knn_lsh",
        "hyperplane LSH 10 planes + 1-bit probes; planted twin P(miss)~.009",
        0.95, 0.03, () => Similarity.lshKnn(queries, base, k, planes = 10)),
      ("v06_ivf_knn",
        "IVF 8 cells probe 3; twin shares the query's cell by construction",
        0.95, 0.30, () => Similarity.ivfKnn(queries, base, k, nCells = 8,
          nProbe = 3, queryBound = 7)),
      ("v07_pq_knn",
        "PQ 8x16 codes rerank 24; twin's code distance ~ 0",
        0.90, 0.15, () => Similarity.pqKnn(queries, base, k, subspaces = 8,
          centroids = 16, rerank = 24)),
      ("v08_int8_knn",
        "int8 symmetric quantization; near-exact scan",
        0.98, 0.80, () => Similarity.int8Knn(queries, base, k)),
      ("v10_ivfpq_knn",
        "IVF 8/3 + PQ 8x16 rerank 24; twin shares cell, code distance ~ 0",
        0.90, 0.15, () => Similarity.ivfPqKnn(queries, base, k, nCells = 8,
          nProbe = 3, subspaces = 8, centroids = 16, rerank = 24,
          queryBound = 7)))

    def num(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    val rows = lanes.map { case (name, contract, pFloor, bFloor, run) =>
      val (broad, plantedR, err) =
        try { val (b, p) = measure(run()); (b, p, Option.empty[String]) }
        catch { case e: Throwable =>
          System.err.println(s"[ann-gate] $name failed: $e")
          (-1.0, -1.0, Some(e.toString))
        }
      val ok = err.isEmpty && plantedR >= pFloor && broad >= bFloor
      println(f"${if (ok) "OK  " else "FAIL"} $name planted=$plantedR%.4f" +
        f" (floor $pFloor) recall@$k=$broad%.4f (floor $bFloor) [$contract]")
      (name, plantedR, pFloor, broad, bFloor, contract, ok, err)
    }
    val lanesJson = rows.map {
      case (name, plantedR, pFloor, broad, bFloor, contract, ok, err) =>
        s""""$name":{"planted_recall":${num(plantedR)},""" +
          s""""planted_floor":${num(pFloor)},""" +
          s""""recall_at_k":${num(broad)},"broad_floor":${num(bFloor)},""" +
          s""""k":$k,"contract":"$contract","ok":$ok""" +
          err.map(e => s""","err":"${e.replace("\"", "'")}"""").getOrElse("") +
          "}"
    }.mkString("{", ",", "}")
    val ok = rows.count(_._7)
    val json = s"""{"sf_dir":"$sfDir","queries":$nQ,"base":$nBase,""" +
      s""""k":$k,"lanes":$lanesJson,"ok":$ok,"fail":${rows.size - ok},""" +
      s""""status":"${if (ok == rows.size) "pass" else "fail"}"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"[ann-gate] wrote $outPath: $ok ok, ${rows.size - ok} fail")
    spark.stop()
    if (ok != rows.size) sys.exit(1)
  }
}
