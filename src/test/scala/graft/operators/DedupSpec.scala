package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionTestWrapper
import graft.functions.TextAnalysis
import scala.util.Random

class DedupSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(7)
  val vocab: IndexedSeq[String] =
    (0 until 200).map(i => s"w$i")

  def randomDoc(n: Int): String =
    Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  /** Corpus with planted near-duplicates: for some docs, a copy with 1-2
    * token substitutions (high-similarity dups, jaccard ~0.9). */
  lazy val corpus: Seq[(Long, String)] = {
    val base = (0L until 60L).map(i => (i, randomDoc(80)))
    val nearDups = base.take(12).map { case (i, text) =>
      val toks = text.split(" ")
      val mutated = toks.zipWithIndex.map { case (t, j) =>
        if (j % 41 == 5) vocab(rng.nextInt(vocab.length)) else t
      }
      (i + 1000L, mutated.mkString(" "))
    }
    base ++ nearDups
  }

  def ds = {
    import spark.implicits._
    spark.createDataset(corpus)
  }

  /** Exact Jaccard over shingle sets, brute force (the oracle). */
  def exactPairs(threshold: Double): Set[(Long, Long)] = {
    val sets = corpus.map { case (id, t) =>
      (id, TextAnalysis.shingleSet(t, 3).toSet)
    }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      if j >= threshold
    } yield (a, b)).toSet
  }

  test("minhash LSH finds all high-similarity pairs (recall = 1 on planted dups)") {
    val expected = exactPairs(0.7)
    assert(expected.nonEmpty, "fixture must contain near-duplicates")
    val got = Dedup.minhashDedup(ds, shingleN = 3, numHashes = 64,
      bands = 16, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(got),
      s"missed pairs: ${expected -- got}")
    // verification step guarantees precision: every reported pair is exact
    assert(got.subsetOf(exactPairs(0.7)))
  }

  test("ngram Jaccard pairs match the brute-force oracle exactly") {
    val got = Dedup.ngramJaccardPairs(ds, shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exactPairs(0.5))
  }

  test("simhash distance reflects similarity; banding finds close pairs") {
    val planted = corpus.filter(_._1 >= 1000).map(c => (c._1 - 1000, c._1))
    val got = Dedup.simhashDedup(ds, shingleN = 3, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // most planted near-dup pairs are within hamming distance 10
    val found = planted.count(got.contains)
    assert(found >= planted.size * 2 / 3, s"found only $found of ${planted.size}")
  }

  test("connected components resolve transitive clusters to min ids") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, singleton edges 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components equal a union-find oracle on adversarial " +
    "shapes (long chain, labeled hub-star, cliques)") {
    import spark.implicits._
    // the three shapes that defeat naive distributed CC: a 400-node chain
    // (needs pointer doubling — plain min-propagation is diameter-bound),
    // a hub-star whose hub id is LARGER than a far endpoint reachable only
    // over a bridge (needs contraction — doubling has no pointer depth to
    // compress on a depth-1 star), and plain cliques (the common case)
    val chain = (0L until 400L).map(i => (1000L + i, 1000L + i + 1))
    val star = (0L until 50L).map(i => (23L, 5000L + i))
    val bridge = Seq((5000L, 4000L), (4000L, 4001L), (4001L, 3L))
    val cliques = (0L until 5L).flatMap(c =>
      for (i <- 0L until 4L; j <- i + 1 until 4L)
        yield (9000L + c * 10 + i, 9000L + c * 10 + j))
    val edges: Seq[(Long, Long)] = chain ++ star ++ bridge ++ cliques
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(a: Long): Long = {
      var r = a
      while (parent.getOrElse(r, r) != r) r = parent(r)
      parent(a) = r; r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    val want = nodes.map(n => n -> minOf(find(n))).toMap
    // both execution paths: the driver-side union-find fast path (default
    // bound) and the distributed contraction loop (bound forced to 0)
    for (localMax <- Seq(Dedup.LocalCcMaxEdges, 0L)) {
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
          localMaxEdges = localMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"localMaxEdges=$localMax")
      // the star+bridge component must resolve THROUGH the hub to id 3
      assert(got(23L) == 3L && got(5049L) == 3L)
      // the long chain resolves to its minimum end
      assert(got(1400L) == 1000L)
    }
  }

  test("connected components equal a union-find oracle on random graphs " +
    "(fuzz: sparse, dense, and path-heavy)") {
    import spark.implicits._
    val fuzz = new Random(20260813L)
    for (trial <- 0 until 6) {
      val n = 120 + fuzz.nextInt(120)
      // three densities: below the giant-component threshold (forest of
      // small trees), near it (long tendrils), above it (one hairy blob)
      val m = trial % 3 match {
        case 0 => n / 3
        case 1 => (n * 0.55).toInt
        case 2 => 2 * n
      }
      val ids = (0 until n).map(_ => fuzz.nextLong().abs % 1000000L).distinct
      val edges = (0 until m).map { _ =>
        (ids(fuzz.nextInt(ids.length)), ids(fuzz.nextInt(ids.length)))
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(a: Long): Long = {
          var r = a
          while (parent.getOrElse(r, r) != r) r = parent(r)
          parent(a) = r; r
        }
        for ((a, b) <- edges) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
        val want = nodes.map(nd => nd -> minOf(find(nd))).toMap
        // alternate paths across trials: even trials exercise the local
        // union-find, odd trials force the distributed contraction loop
        val localMax = if (trial % 2 == 0) Dedup.LocalCcMaxEdges else 0L
        val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
            localMaxEdges = localMax)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"trial $trial (n=$n, m=$m, local=$localMax) diverged")
      }
    }
  }

  test("un-converged connected components throw by default, warn when " +
    "strict = false") {
    import spark.implicits._
    // a zig-zag path (low ids alternating with high ids: 0-20-1-21-2-…)
    // has a LOCAL min at every second node, so even the driver-compressed
    // fixpoint labels need two rounds (round 1 contracts each high node
    // into its smaller neighbor, leaving the monotone path 0-1-2-…;
    // round 2 finishes it) — maxIterations = 1 exits un-converged on any
    // distributed-loop variant. (A monotone path no longer works here:
    // label-chain fixpoint compression resolves it in one round.)
    val edges = (0L until 20L).flatMap(i =>
      Seq((i, 20L + i)) ++ (if (i < 19L) Seq((20L + i, i + 1)) else Nil))
    val df = edges.toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(df, maxIterations = 1, localMaxEdges = 0L)
        .collect()
    }
    assert(e.getMessage.contains("maxIterations"))
    // non-strict restores warn-and-return-split for availability-first
    // callers: labels come back (possibly split), no throw
    val got = Dedup.connectedComponents(df, maxIterations = 1,
      localMaxEdges = 0L, strict = false).collect()
    assert(got.length == 40)
  }

  test("dedup decisions keep exactly one doc per duplicate cluster") {
    val decisions = Dedup.dedupDecisions(ds, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // every cluster has exactly one keeper
    for ((cluster, members) <- decisions.groupBy(_._2))
      assert(members.count(_._3) == 1, s"cluster $cluster")
    // the planted dup (id+1000) is dropped, the original kept
    val dropped = decisions.filter(!_._3).map(_._1).toSet
    assert(dropped.nonEmpty && dropped.forall(_ >= 1000L))
    // deduplicate() removes exactly the dropped docs
    val kept = Dedup.deduplicate(ds, threshold = 0.7).collect().map(_._1).toSet
    assert(kept == corpus.map(_._1).toSet -- dropped)
  }

  test("hashed-cosine dedup drops reshuffled copies the shingle test " +
    "misses; both tests keep distinct docs and empty docs") {
    import spark.implicits._
    val words = (0 until 40).map(i => s"hb$i")
    val docs = Seq(
      (0L, words.mkString(" ")),
      // token-reshuffled copy: bag-of-words identical (hashed cosine 1.0)
      // but the permutation destroys 3-token shingles (Jaccard ~0)
      (1L, words.reverse.mkString(" ")),
      (2L, (0 until 40).map(i => s"qq$i").mkString(" ")),
      (3L, ""))
    val ds = spark.createDataset(docs)
    val scope = new Dedup.CacheScope
    try {
      val lexical = Dedup.deduplicate(ds, threshold = 0.9, scope = scope)
        .collect().map(_._1).toSet
      assert(lexical == Set(0L, 1L, 2L, 3L),
        s"shingle test must MISS the reshuffle (the contrast): $lexical")
      val hashed = Dedup.deduplicateHashedCosine(ds, threshold = 0.9,
          scope = scope)
        .collect().map(_._1).toSet
      assert(hashed == Set(0L, 2L, 3L),
        s"hashed cosine must catch the reshuffle, keep the rest: $hashed")
    } finally scope.release()
  }

  test("empty/whitespace docs never become near-dup candidates") {
    import spark.implicits._
    val withEmpties = corpus ++ (9000L until 9050L).map(i => (i, ""))
      .toSeq ++ Seq((9500L, "   "))
    val ds2 = spark.createDataset(withEmpties)
    val mh = Dedup.minhashDedup(ds2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!mh.exists { case (a, b) => a >= 9000L || b >= 9000L })
    val sh = Dedup.simhashDedup(ds2, maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!sh.exists { case (a, b) => a >= 9000L || b >= 9000L })
  }

  test("oversized LSH buckets are capped: boilerplate cannot go quadratic") {
    import spark.implicits._
    // adversarial corpus: 500 identical docs (every band maps all of them to
    // one bucket -> 124,750 pairs if uncapped) plus one planted normal dup
    val boiler = (0L until 500L).map(i => (i, "the same license header " * 10))
    val normal = Seq((9000L, randomDoc(80)))
    val dup = Seq((9001L, normal.head._2))
    val ds2 = spark.createDataset(boiler ++ normal ++ dup)

    val sigs = Dedup.minhashSignatures(ds2, shingleN = 3, numHashes = 64)
    val capped = Dedup.lshCandidates(sigs, bands = 16, rows = 4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the mega-bucket is dropped wholesale; the normal pair survives
    assert(!capped.exists { case (a, b) => a < 500L && b < 500L })
    assert(capped.contains((9000L, 9001L)))

    // simhash: same adversarial shape, same bound
    val sh = Dedup.simhashDedup(ds2, shingleN = 3, maxDist = 3, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sh.exists { case (a, b) => a < 500L && b < 500L })

    // cosine LSH: 500 identical vectors share every probe bucket
    val vecs = (0L until 500L).map(i => (i, Array.fill(8)(0.5f))) ++
      Seq((9000L, Array.tabulate(8)(d => if (d == 0) 1f else 0f)),
        (9001L, Array.tabulate(8)(d => if (d == 0) 0.99f else 0.01f)))
    val cd = Similarity.cosineDedup(spark.createDataset(vecs), threshold = 0.9,
      planes = 6, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cd.exists { case (a, b) => a < 500L && b < 500L })
    assert(cd.contains((9000L, 9001L)))
  }

  test("cappedBuckets attributes cap-dropped recall: names the boilerplate " +
    "mega-buckets and is empty on a cap-free corpus") {
    import spark.implicits._
    val boiler = (0L until 120L).map(i => (i, "the same license header " * 10))
    val normal = Seq((9000L, randomDoc(80)), (9001L, randomDoc(81)))
    val ds2 = spark.createDataset(boiler ++ normal)
    // every band funnels the 120 identical docs into one bucket of size 120
    val dropped = Dedup.cappedBuckets(ds2, shingleN = 3, numHashes = 64,
      bands = 16, maxBucket = 100).collect()
    assert(dropped.length == 16, s"one mega-bucket per band: ${dropped.length}")
    assert(dropped.forall(_.getLong(2) == 120L))
    // and those buckets are exactly what lshCandidates would drop — the
    // diagnostic explains the missing pairs, the caveat in lshPlan's doc
    val capped = Dedup.lshCandidates(
      Dedup.minhashSignatures(ds2, 3, 64), 16, 4, maxBucket = 100)
    assert(!capped.collect().exists(r => r.getLong(0) < 120L))
    // cap-free corpus: the diagnostic is silent, the analytic curve is
    // the whole recall story
    val clean = spark.createDataset(normal)
    assert(Dedup.cappedBuckets(clean, 3, 64, 16, maxBucket = 100).isEmpty)
  }

  test("minhash signature similarity approximates Jaccard") {
    val a = TextAnalysis.shingleSet(corpus.head._2, 3)
    val mutated = corpus.find(_._1 == 1000L).get._2
    val b = TextAnalysis.shingleSet(mutated, 3)
    val sigA = Dedup.minhashSignature(a, 256)
    val sigB = Dedup.minhashSignature(b, 256)
    val est = sigA.zip(sigB).count { case (x, y) => x == y } / 256.0
    val exact = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
    assert(math.abs(est - exact) < 0.15, s"est $est vs exact $exact")
  }

  // ---------------- LSH planning (r18: the sf1.0 recall find) ------------

  test("lshPlan meets the recall target at the threshold within the budget") {
    for {
      t <- Seq(0.3, 0.5, 0.7, 0.9)
      r <- Seq(0.6, 0.9, 0.99)
      budget <- Seq(64, 256)
    } {
      val plan = Dedup.lshPlan(t, r, budget)
      assert(plan.numHashes <= budget, s"($t,$r,$budget): $plan over budget")
      assert(plan.candidateProb(t) >= r - 1e-12,
        s"($t,$r,$budget): $plan recall ${plan.candidateProb(t)}")
      // the curve is monotone: recall only rises above the threshold
      assert(plan.candidateProb(math.min(1.0, t + 0.1)) >=
        plan.candidateProb(t))
    }
  }

  test("lshPlan picks the deepest feasible bands with the fewest bands") {
    val plan = Dedup.lshPlan(0.5, 0.99, 256)
    // one more row per band cannot fit the budget
    val prNext = math.pow(0.5, plan.rows + 1)
    val bandsNext = math.ceil(math.log1p(-0.99) / math.log1p(-prNext))
    assert(bandsNext * (plan.rows + 1) > 256)
    // one fewer band misses the target: bands is minimal
    if (plan.bands > 1)
      assert(plan.copy(bands = plan.bands - 1).candidateProb(0.5) < 0.99)
  }

  test("the t06 default 16x4 has the 0.644 boundary recall the sf1.0 gate measured") {
    val p = Dedup.LshPlan(16, 4)
    assert(math.abs(p.candidateProb(0.5) - 0.644) < 0.002)
    assert(math.abs(p.candidateProb(0.7) - 0.9876) < 0.001)
    assert(p.candidateProb(0.8) > 0.9997)
  }

  test("lshPlan fails loudly when the budget cannot reach the target") {
    val e = intercept[IllegalArgumentException](
      Dedup.lshPlan(0.05, 0.9999, 4))
    assert(e.getMessage.contains("no banding"))
  }

  test("minhashDedupPlanned at target 0.99 recalls the full threshold-0.5 oracle set") {
    val expected = exactPairs(0.5)
    assert(expected.nonEmpty)
    val got = Dedup.minhashDedupPlanned(ds, shingleN = 3, threshold = 0.5,
      targetRecall = 0.99, maxHashes = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(expected), s"false pairs: ${got -- expected}")
    // deterministic on this fixture (seeded corpus, seeded hashes):
    // candidateProb(0.5) = 0.9907 and the planted dups sit near 0.9
    assert(expected.subsetOf(got), s"missed: ${expected -- got}")
  }
}

class SimilaritySpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(11)
  val dim = 32

  def randomVec(): Array[Float] = Array.fill(dim)(rng.nextGaussian().toFloat)

  def perturb(v: Array[Float], eps: Float): Array[Float] =
    v.map(x => x + eps * rng.nextGaussian().toFloat)

  lazy val base: Seq[(Long, Array[Float])] = {
    val anchors = (0L until 40L).map(i => (i, randomVec()))
    val close = anchors.take(10).map { case (i, v) => (i + 500L, perturb(v, 0.05f)) }
    anchors ++ close
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
      math.sqrt(b.map(x => x.toDouble * x).sum))
  }

  test("brute-force kNN returns the exact top-k") {
    import spark.implicits._
    val df = spark.createDataset(base).toDF("id", "vec")
    val got = Similarity.bruteForceKnn(df.filter($"id" < 5), df, k = 3)
      .collect().groupBy(_.getLong(0))
    for (q <- 0L until 5L) {
      val expected = base.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(base(q.toInt)._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
      val gotIds = got(q).sortBy(-_.getDouble(2)).map(_.getLong(1)).toSeq
      assert(gotIds == expected, s"query $q")
    }
  }

  test("LSH kNN finds the planted nearest neighbor (multi-probe recall)") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    val got = Similarity.lshKnn(queries, ds, k = 1, planes = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each anchor 0..9 has a planted twin at id+500 with cosine ~0.999
    val hits = (0L until 10L).count(q => got.get(q).contains(q + 500L))
    assert(hits >= 8, s"LSH found only $hits of 10 planted neighbors")
  }

  test("IVF kNN finds the planted nearest neighbor") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    val got = Similarity.ivfKnn(queries, ds, k = 1, nCells = 8, nProbe = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 10L).count(q => got.get(q).contains(q + 500L))
    assert(hits >= 8, s"IVF found only $hits of 10 planted neighbors")
  }

  /** Exact brute-force top-k ids per query — the v02 semantics, computed
    * driver-side. The recall gate for the two non-SQL-oracled ANN lanes
    * (v06 IVF / v07 PQ): their CORRECTNESS rows are rows-only by design,
    * so the quantitative contract ("the approximate set covers most of the
    * true neighbors") lives here instead. */
  private def bruteTopK(k: Int, nQ: Int): Map[Long, Seq[Long]] =
    (0L until nQ.toLong).map { q =>
      q -> base.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(base(q.toInt)._2, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    }.toMap

  private def recallAt(k: Int, got: Map[Long, Seq[Long]], nQ: Int): Double = {
    val want = bruteTopK(k, nQ)
    val hit = (0L until nQ.toLong).map(q =>
      got.getOrElse(q, Seq.empty).toSet.intersect(want(q).toSet).size).sum
    hit.toDouble / (k * nQ)
  }

  test("IVF kNN recall@3 vs exact brute force clears the gate") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    val got = Similarity.ivfKnn(queries, ds, k = 3, nCells = 8, nProbe = 3)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(-_.getDouble(2)).map(_.getLong(1)).toSeq }
    val r = recallAt(3, got, 10)
    assert(r >= 0.7, f"IVF recall@3 = $r%.2f below the 0.7 gate")
  }

  test("PQ kNN recall@3 vs exact brute force clears the gate") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    val got = Similarity.pqKnn(queries, ds, k = 3, subspaces = 8,
        centroids = 16, rerank = 24)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(-_.getDouble(2)).map(_.getLong(1)).toSeq }
    val r = recallAt(3, got, 10)
    assert(r >= 0.7, f"PQ recall@3 = $r%.2f below the 0.7 gate")
  }

  test("cosine dedup finds planted near-identical pairs") {
    import spark.implicits._
    val got = Similarity.cosineDedup(spark.createDataset(base), 0.98, planes = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0L until 10L).count(i => got.contains((i, i + 500L)))
    assert(found >= 8, s"found only $found of 10 planted pairs")
  }

  test("PQ kNN finds the planted nearest neighbor and re-ranks exactly") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    val res = Similarity.pqKnn(queries, ds, k = 1, subspaces = 8,
      centroids = 16, rerank = 24).collect()
    val got = res.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 10L).count(q => got.get(q).contains(q + 500L))
    assert(hits >= 8, s"PQ found only $hits of 10 planted neighbors")
    // the reported sim is the EXACT cosine (re-ranked), not the PQ estimate
    for (r <- res) {
      val exact = cosine(base(r.getLong(0).toInt)._2,
        base.find(_._1 == r.getLong(1)).get._2)
      assert(math.abs(r.getDouble(2) - exact) < 1e-9)
    }
  }

  test("int8 kNN matches float brute force within quantization error") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    val got = Similarity.int8Knn(queries, ds, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byQ = got.map(r => r._1 -> r).toMap
    // the planted twin (cosine ~0.999) must survive int8 quantization
    val hits = (0L until 10L).count(q => byQ(q)._2 == q + 500L)
    assert(hits >= 9, s"int8 found only $hits of 10 planted neighbors")
    // int8 cosine is within ~1% of the exact float cosine
    for ((qid, nid, sim) <- got) {
      val exact = cosine(base(qid.toInt)._2, base.find(_._1 == nid).get._2)
      assert(math.abs(sim - exact) < 0.01, s"q$qid: $sim vs $exact")
    }
    // quantize/cosineInt8 kernel: self-similarity is ~1
    val (_, codes) = Similarity.quantizeInt8(base(0)._2)
    assert(math.abs(Similarity.cosineInt8(base(0)._2, codes) - 1.0) < 0.01)
  }

  test("IVF quantizer trains on a bounded deterministic sample without " +
    "losing the planted neighbors") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    // trainN far below the corpus: the quantizer sees only the 64 smallest
    // ids (the 100-TB shape — Lloyd's never rescans the corpus), yet every
    // vector still gets a cell and the planted twins remain reachable
    val got = Similarity.ivfKnn(queries, ds, k = 1, nCells = 8, nProbe = 3,
        trainN = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 10L).count(q => got.get(q).contains(q + 500L))
    assert(hits >= 8, s"sample-trained IVF found only $hits of 10")
  }

  test("IVF and PQ kNN are independent of input partitioning (the property " +
    "their DuckDB oracles rely on)") {
    import spark.implicits._
    def run(parts: Int): (Seq[(Long, Long, Double)], Seq[(Long, Long, Double)]) = {
      val ds = spark.createDataset(base).repartition(parts)
      val queries = spark.createDataset(base.filter(_._1 < 10))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
      (rows(Similarity.ivfKnn(queries, ds, k = 3, nCells = 8, nProbe = 3)),
        rows(Similarity.pqKnn(queries, ds, k = 3, subspaces = 8,
          centroids = 16, rerank = 24)))
    }
    val (ivf2, pq2) = run(2)
    val (ivf7, pq7) = run(7)
    assert(ivf2 == ivf7, "IVF result depends on partitioning")
    assert(pq2 == pq7, "PQ result depends on partitioning")
  }

  test("IVF-PQ kNN finds planted neighbors, clears the recall gate, " +
    "re-ranks exactly, and is independent of partitioning") {
    import spark.implicits._
    def run(parts: Int): Array[org.apache.spark.sql.Row] = {
      val ds = spark.createDataset(base).repartition(parts)
      val queries = spark.createDataset(base.filter(_._1 < 10))
      Similarity.ivfPqKnn(queries, ds, k = 3, nCells = 8, nProbe = 3,
        subspaces = 8, centroids = 16, rerank = 24).collect()
    }
    val res = run(2)
    // planted twin at id+500 (cosine ~0.999) must be reachable through the
    // probed cells + residual codes
    val top1 = res.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.maxBy(r => (r.getDouble(2), -r.getLong(1))).getLong(1)
    }
    val hits = (0L until 10L).count(q => top1.get(q).contains(q + 500L))
    assert(hits >= 8, s"IVF-PQ found only $hits of 10 planted neighbors")
    // recall@3 vs exact brute force: residual coding should do no worse
    // than the plain-PQ gate
    val got = res.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(-_.getDouble(2)).map(_.getLong(1)).toSeq
    }
    val r = recallAt(3, got, 10)
    assert(r >= 0.7, f"IVF-PQ recall@3 = $r%.2f below the 0.7 gate")
    // the reported sim is the EXACT re-ranked cosine
    for (row <- res) {
      val exact = cosine(base(row.getLong(0).toInt)._2,
        base.find(_._1 == row.getLong(1)).get._2)
      assert(math.abs(row.getDouble(2) - exact) < 1e-9)
    }
    // partitioning independence (the property the v10 oracle relies on)
    def sorted(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    assert(sorted(res) == sorted(run(7)),
      "IVF-PQ result depends on partitioning")
  }

  test("ANN quantizer scatter sampling: planted recall kept, partitioning-" +
    "independent, and the training order genuinely changes") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    // scatter changes the Lloyd's INIT (first-k of the hash-permuted
    // sample), so the codebooks must differ from the id-ordered path...
    val a = Similarity.trainPqCodebooks(ds, 8, 16, trainN = 64, iters = 3)
    val b = Similarity.trainPqCodebooks(ds, 8, 16, trainN = 64, iters = 3,
      scatter = true)
    assert(a.flatten.flatten.toSeq != b.flatten.flatten.toSeq,
      "scatter must reorder the training sample")
    // ...while recall and partitioning-independence hold on every lane
    def run(parts: Int) = Similarity.ivfPqKnn(queries,
        spark.createDataset(base).repartition(parts), k = 1, nCells = 8,
        nProbe = 3, rerank = 24, trainN = 64, scatter = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val got = run(2)
    assert(got == run(7), "scatter path depends on partitioning")
    val hitsPq = (0L until 10L).count(q => got.toMap.get(q).contains(q + 500L))
    assert(hitsPq >= 8, s"scatter IVF-PQ found only $hitsPq of 10")
    val ivf = Similarity.ivfKnn(queries, ds, k = 1, nCells = 8, nProbe = 3,
        trainN = 64, scatter = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hitsIvf = (0L until 10L).count(q => ivf.get(q).contains(q + 500L))
    assert(hitsIvf >= 8, s"scatter IVF found only $hitsIvf of 10")
  }

  test("sharded query path is byte-identical to the single-collect path " +
    "across the whole kNN family") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val queries = spark.createDataset(base.filter(_._1 < 10))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    // queryBound = 3 < Q = 10 forces ≥ 2 hash shards; per-query results
    // depend only on the base, so the union of per-shard top-k windows
    // must equal the global one EXACTLY (same doubles, same tie-breaks)
    val pairs = Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      ("ivf", b => Similarity.ivfKnn(queries, ds, k = 3, nCells = 8,
        nProbe = 3, queryBound = b)),
      ("pq", b => Similarity.pqKnn(queries, ds, k = 3, subspaces = 8,
        centroids = 16, rerank = 24, queryBound = b)),
      ("ivfpq", b => Similarity.ivfPqKnn(queries, ds, k = 3, nCells = 8,
        nProbe = 3, subspaces = 8, centroids = 16, rerank = 24,
        queryBound = b)),
      ("int8", b => Similarity.int8Knn(queries, ds, k = 3, queryBound = b)))
    for ((name, run) <- pairs) {
      val off = rows(run(Similarity.DefaultQueryShardBound))
      val sharded = rows(run(3))
      assert(sharded == off, s"$name: sharded result diverges")
      assert(off.map(_._1).distinct.size == 10, s"$name: missing queries")
    }
  }

  test("PQ encoding is deterministic and codebooks reconstruct the sample") {
    import spark.implicits._
    val ds = spark.createDataset(base)
    val books1 = Similarity.trainPqCodebooks(ds, 8, 16)
    val books2 = Similarity.trainPqCodebooks(ds, 8, 16)
    for (s <- books1.indices; c <- books1(s).indices)
      assert(books1(s)(c).sameElements(books2(s)(c)), "training not deterministic")
    // reconstruction from codes approximates the vector (clustered data);
    // codebooks live in milli-units (integer Lloyd's), so scale back
    val v = base(3)._2
    val code = Similarity.pqEncode(Similarity.quantizeJvm(v), books1)
    val recon = books1.indices
      .flatMap(s => books1(s)(code(s) & 0xff).map(_ / 1000f)).toArray
    assert(cosine(v, recon) > 0.9, s"poor reconstruction: ${cosine(v, recon)}")
  }

  test("PQ and IVF-PQ kNN reject more than 256 centroids: codes are one " +
    "byte, so centroid 256 would be scored as centroid 0") {
    import spark.implicits._
    val r = new Random(5)
    val corpus = spark.createDataset((0L until 300L).map(i =>
      (i, Array.fill(dim)(r.nextGaussian().toFloat))))
    val queries = corpus.filter(_._1 < 3)
    val lanes = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("pq", () => Similarity.pqKnn(queries, corpus, k = 3, subspaces = 8,
        centroids = 257, trainN = 300)),
      ("ivfpq", () => Similarity.ivfPqKnn(queries, corpus, k = 3, nCells = 8,
        subspaces = 8, centroids = 257, trainN = 300)))
    for ((name, run) <- lanes) {
      val e = intercept[IllegalArgumentException](run().collect())
      assert(e.getMessage.contains("centroids"), s"$name: ${e.getMessage}")
    }
  }

  test("PQ and IVF-PQ kNN reject a query whose dim differs from the base, " +
    "naming both dims") {
    import spark.implicits._
    val r = new Random(6)
    val corpus = spark.createDataset((0L until 64L).map(i =>
      (i, Array.fill(64)(r.nextGaussian().toFloat))))
    val short = spark.createDataset(Seq(
      (1000L, Array.fill(56)(r.nextGaussian().toFloat))))
    val lanes = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("pq", () => Similarity.pqKnn(short, corpus, k = 3, subspaces = 8,
        centroids = 16, trainN = 64)),
      ("ivfpq", () => Similarity.ivfPqKnn(short, corpus, k = 3, nCells = 8,
        subspaces = 8, centroids = 16, trainN = 64)))
    for ((name, run) <- lanes) {
      val e = intercept[IllegalArgumentException](run().collect())
      assert(e.getMessage.contains("56") && e.getMessage.contains("64"),
        s"$name: ${e.getMessage}")
    }
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  import TextAnalysis._

  test("hashed embedding: unit norm, deterministic, near-dups align, " +
    "unrelated docs don't, empty docs are zero") {
    val dim = 64
    val doc = "the quick brown fox jumps over the lazy dog"
    val a = hashedEmbedding(doc, dim)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6, s"norm $norm")
    assert(a.sameElements(hashedEmbedding(doc, dim)))
    assert(hashedEmbedding("", dim).forall(_ == 0f))
    assert(hashedEmbedding("  \t ", dim).forall(_ == 0f))
    // unit vectors: cosine == dot
    def cos(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q }.sum
    val words = (0 until 40).map(i => s"w$i")
    val near = (words.dropRight(1) :+ "changed").mkString(" ")
    val c = cos(hashedEmbedding(words.mkString(" "), dim),
      hashedEmbedding(near, dim))
    assert(c > 0.9, s"near-dup cosine $c")
    val far = cos(hashedEmbedding(words.mkString(" "), dim),
      hashedEmbedding((0 until 40).map(i => s"z$i").mkString(" "), dim))
    assert(math.abs(far) < 0.5, s"unrelated cosine $far")
  }

  test("shingles slide over tokens; short docs fall back to whole text") {
    assert(shingles("a b c d", 3).length == 2)
    assert(shingles("a b", 3).length == 1)
    assert(shingles("", 3).isEmpty)
  }

  test("winnowing fingerprints are edit-robust: shared content -> shared prints") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a.replace("lazy", "hazy")
    val fa = winnowingFingerprints(a).toSet
    val fb = winnowingFingerprints(b).toSet
    assert(fa.intersect(fb).size.toDouble / fa.union(fb).size > 0.5)
    assert(winnowingFingerprints(a).toSeq == winnowingFingerprints(a).toSeq)
  }

  test("language detection: stopword and script heuristics") {
    assert(detectLanguage("the cat sat on the mat and it was happy") == "en")
    assert(detectLanguage("le chat est sur la table et il est content") == "fr")
    assert(detectLanguage("el gato es feliz y la casa es grande") == "es")
    assert(detectLanguage("der Hund ist nicht zu Hause und die Katze") == "de")
    assert(detectLanguage("il gatto non sono con una casa per anche come") == "it")
    assert(detectLanguage("o gato do jardim em um dia para com uma casa") == "pt")
    assert(detectLanguage("het is een dat van de hond op te zijn") == "nl")
    assert(detectLanguage("") == "und")
    // script-dominant cases
    assert(detectLanguage("你好世界这是中文") == "zh")
    assert(detectLanguage("これは日本語の文章です") == "ja") // kana decides ja
    assert(detectLanguage("日本語テキストです") == "ja") // han + kana mix
    assert(detectLanguage("안녕하세요 한국어 텍스트입니다") == "ko")
    assert(detectLanguage("Это русский текст для проверки") == "ru")
    assert(detectLanguage("هذا نص عربي للاختبار") == "ar")
    assert(detectLanguage("यह हिंदी में पाठ है") == "hi")
    assert(detectLanguage("Αυτό είναι ελληνικό κείμενο") == "el")
    assert(detectLanguage("זהו טקסט בעברית") == "he")
    assert(detectLanguage("นี่คือข้อความภาษาไทย") == "th")
    // deterministic: ambiguous Latin text always yields the same answer
    assert(detectLanguage("de la") == detectLanguage("de la"))
    // one stray kana (emoticon) must not hijack Latin text
    assert(detectLanguage("the cat sat on the mat ツ") == "en")
    // ...but one kana among Han is the Japanese signature, not Chinese
    assert(detectLanguage("東京の空") == "ja")
  }

  test("token estimate counts words, digit runs, punctuation") {
    assert(tokenEstimate("hello world") == 2L)
    assert(tokenEstimate("hello, world!") == 4L)
    assert(tokenEstimate("abc 123 x.y") == 5L)
    // long words cost subword tokens
    assert(tokenEstimate("internationalization") > 1L)
  }
}
