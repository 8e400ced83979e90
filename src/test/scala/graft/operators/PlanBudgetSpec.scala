package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkSessionTestWrapper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Repo-wide physical-plan hygiene net: every registered lane's STATIC plan
  * (AQE off, sf0.001 inputs) is pinned to a shuffle-exchange budget, and
  * nested-loop/cartesian joins are forbidden outside an explicit whitelist.
  *
  * Why this is a test and not a doc: at 100 TB an extra shuffle on a fact
  * table is the difference between a read-dominated job and a cluster-wide
  * re-sort, and a refactor can add one silently (a lost partitioner, a
  * non-equi join condition, an accidental `orderBy` mid-pipeline). Pinning
  * the count per lane makes "this change added a shuffle" a test failure
  * with the lane name in it, the same way the goldens make "this change
  * altered results" one. Budgets are ≤ (an optimization that REMOVES a
  * shuffle passes; tighten the pin when that happens — re-derive with
  * `sbt "Test/runMain graft.PlanDump"`).
  *
  * The whitelisted nested-loop joins are all bounded by construction:
  * t23/t30/t33/t36 broadcast a ONE-ROW corpus total into every row
  * (`crossJoin(broadcast(...))` — a scalar join, not a pairs blow-up);
  * v02/v09 are the deliberate brute-force baselines whose query side is
  * hard-capped (20 query vectors / a sampled pair block) — the ANN lanes
  * v04/v06/v07/v08/v10 are the scale path and must stay nested-loop-free.
  */
class PlanBudgetSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  /** lane -> (max shuffle exchanges, max nested-loop joins) in the static plan */
  private val budgets: Map[String, (Int, Int)] = Map(
    "q01_agg_pricing" -> ((2, 0)), "q02_filter_project" -> ((1, 0)),
    "q03_join_dims" -> ((2, 0)), "q04_join_fact" -> ((2, 0)),
    "q05_outer_join" -> ((2, 0)), "q06_first_per_group" -> ((2, 0)),
    "q07_running_sum" -> ((2, 0)), "q08_sliding_avg" -> ((2, 0)),
    "q09_topk" -> ((0, 0)), "q10_distinct" -> ((2, 0)),
    "q11_union_all" -> ((2, 0)), "q12_semijoin" -> ((2, 0)),
    "q13_antijoin" -> ((2, 0)), "q14_count_distinct" -> ((3, 0)),
    "q15_having" -> ((2, 0)), "q16_casewhen" -> ((2, 0)),
    "q17_regex_extract" -> ((1, 0)), "q18_collect_sorted" -> ((2, 0)),
    "q19_twolevel_agg" -> ((3, 0)), "q20_year_agg" -> ((2, 0)),
    "q21_histogram" -> ((2, 0)), "q22_minmax" -> ((2, 0)),
    "q23_conditional_agg" -> ((2, 0)), "q24_nullsafe_join" -> ((1, 0)),
    "q25_twokey_join" -> ((1, 0)), "q26_sessionize" -> ((2, 0)),
    "q27_rollup" -> ((2, 0)), "q28_percentiles" -> ((2, 0)),
    "q29_ranking" -> ((2, 0)), "q30_lag_lead" -> ((2, 0)),
    "q31_corr_subquery" -> ((2, 0)), "q32_range_frame" -> ((2, 0)),
    "q33_setops" -> ((4, 0)), "q34_pivot" -> ((3, 0)),
    "q35_asof_join" -> ((3, 0)), "q36_json_extract" -> ((2, 0)),
    // q38 r19 rewrite: 7 exchanges, but every one moves LINEAR data (user
    // window, bucket window, owner window, bucket-totals agg, the 720-row
    // single-partition prefix, final (user,session) agg, output sort) —
    // vs the old 5 whose bucket JOIN input grew quadratically with time
    // density (sf1→sf5 exponent 2.09; the rewrite measured 0.0x there).
    // Two more shuffles of O(n) beats two fewer of O(n²/day).
    // r21: budgets first grew by the scale-adaptive scan fan-out (Q.fanOut,
    // +1/+2 exchanges), then a per-lane fan-out A/B showed the exchange
    // only pays where the pre-exchange kernel is expensive — it was KEPT on
    // the genomic library/reads scans and t21 (g02/g05/g06/g11/g12 +1,
    // g03/g07/g08/g09/g13/g14/g15 +2, t21 +1) and REMOVED from the cheap-
    // kernel lanes, whose pins were re-tightened (t09-t11/t19/t34, m01-m04
    // back to their r20 values). Census re-derived with PlanDump (r21).
    "q37_unpivot" -> ((3, 0)), "q38_interval_join" -> ((7, 0)),
    "t01_dedup_exact" -> ((2, 0)), "t02_dedup_prefix_block" -> ((2, 0)),
    "t03_token_count" -> ((1, 0)), "t04_quality_score" -> ((1, 0)),
    "t05_word_freq" -> ((1, 0)), "t06_minhash_lsh" -> ((2, 0)),
    // t40 is t06's pipeline with lshPlan-chosen banding: same plan shape,
    // same budget — more bands change signature width, not the exchanges
    "t40_minhash_planned" -> ((2, 0)),
    "t07_ngram_jaccard" -> ((3, 0)), "t08_simhash" -> ((2, 0)),
    "t09_langid" -> ((2, 0)), "t10_fingerprints" -> ((1, 0)),
    "t11_token_estimate" -> ((1, 0)), "t12_quality_metrics" -> ((1, 0)),
    "t13_dedup_decisions" -> ((1, 0)), "t14_repetition" -> ((3, 0)),
    "t15_source_similarity" -> ((2, 0)), "t16_stable_split" -> ((2, 0)),
    "t17_source_quota" -> ((2, 0)), "t18_decontaminate" -> ((2, 0)),
    "t19_curation_pipeline" -> ((3, 0)), "t20_bigram_topk" -> ((1, 0)),
    // t21: 3 -> 4 in r22, deliberately — the dup-position filter moved
    // from groupBy(h) + broadcast join (which left the fan-out's doc_id
    // partitioning intact into the island window) to a single count
    // window over the gram-hash partitioning: one extra small exchange to
    // re-co-locate the (tiny) duplicated-position set per document, in
    // return for ONE gram-digest explode instead of two and no dependence
    // on the dup-digest set fitting a broadcast (measured min 1.34 ->
    // 0.71 s at sf0.1; SpanDedupSpec pins the join-free single-pass shape)
    "t21_span_dedup" -> ((4, 0)), "t22_entropy" -> ((3, 0)),
    "t23_tfidf_terms" -> ((7, 1)), "t24_span_strip" -> ((3, 0)),
    "t25_hash_sample" -> ((2, 0)), "t26_lang_confusion" -> ((2, 0)),
    "t27_pack" -> ((2, 0)), "t28_span_rewrite" -> ((6, 0)),
    "t29_chunk" -> ((1, 0)), "t30_unigram_nll" -> ((5, 1)),
    "t31_overlap_decon" -> ((3, 0)), "t32_pii_redact" -> ((1, 0)),
    // t34: 3 -> 4 in r22 — the scale-adaptive scan fan-out returned to the
    // documents scan (the sf1 lens measured the gram/hash kernel serial,
    // 8-vs-32-core ratio 0.98; fanned: sf1 5.26 -> 2.72 s, sf0.1 -13%).
    // The extra exchange is the fan-out itself, identity at scale.
    "t33_mixture_weights" -> ((4, 1)), "t34_bloom_decon" -> ((4, 0)),
    "t35_normalize" -> ((1, 0)), "t36_temperature_sample" -> ((5, 1)),
    "t37_cc_contraction" -> ((1, 0)), "t38_hashed_embedding" -> ((1, 0)),
    "t39_hashed_neardup" -> ((2, 0)),
    "v01_vector_norm" -> ((1, 0)), "v02_knn_brute" -> ((2, 1)),
    "v03_label_stats" -> ((2, 0)), "v04_knn_lsh" -> ((3, 0)),
    "v05_cosine_dedup" -> ((2, 0)), "v06_ivf_knn" -> ((1, 0)),
    "v07_pq_knn" -> ((3, 0)), "v08_int8_knn" -> ((2, 0)),
    "v09_cosine_pairs_exact" -> ((1, 1)), "v10_ivfpq_knn" -> ((1, 0)),
    "m01_media_features" -> ((1, 0)), "m02_audio_features" -> ((1, 0)),
    "m03_frame_sample" -> ((1, 0)), "m04_video_meta" -> ((1, 0)),
    "c01_kmeans" -> ((1, 0)), "c02_semantic_dedup" -> ((1, 0)),
    "c03_cluster_sample" -> ((2, 0)), "c04_centroid_outliers" -> ((2, 0)),
    "c05_kmeans_sampled" -> ((1, 0)), "c06_kmeans_scatter" -> ((1, 0)),
    "c07_semantic_dedup_k1024" -> ((1, 0)),
    "g01_supermer_spans" -> ((1, 0)), "g02_lca_index" -> ((4, 0)),
    "g03_classify" -> ((6, 0)), "g04_classify2" -> ((0, 0)),
    // g05: 4 -> 6 in r16, deliberately — bracken weights gained a
    // content-weighted fragment dedup groupBy whose subtree feeds two
    // consumers (the mins scan and the window join; column pruning gives
    // them different aggregate shapes, so the exchange is not reusable).
    // The two extra library-payload shuffles removed the duplicate-content
    // window work entirely: the 64x head-to-head went 212 s -> 16 s with
    // them and the primitive-array collect (Bracken.weights scaladoc holds
    // the measured stage times).
    "g05_bracken" -> ((7, 0)), "g06_index_stats" -> ((5, 0)),
    "g07_wide_classify" -> ((6, 0)), "g08_multisample" -> ((6, 0)),
    "g09_freq_classify" -> ((6, 0)), "g10_multisample_classify2" -> ((0, 0)),
    "g11_mem_classify" -> ((3, 0)), "g12_mem_wide_classify" -> ((3, 0)),
    "g13_wide64_freq_classify" -> ((6, 0)), "g14_xwide_classify" -> ((6, 0)),
    // g15: two LCA-fold aggregations (one exchange each), the null-safe
    // migration join (one side re-partitions for the <=> key), and the
    // steps-histogram aggregation — 4 total, no nested loops (PlanDump)
    "g15_index_migration" -> ((6, 0)))

  test("every registered lane has a pinned plan budget") {
    val missing = SparkEntry.all.keySet -- budgets.keySet
    val stale = budgets.keySet -- SparkEntry.all.keySet
    assert(missing.isEmpty, s"lanes without a budget (run PlanDump, pin them): $missing")
    assert(stale.isEmpty, s"budgets for unregistered lanes: $stale")
  }

  test("static plans stay within their shuffle budget; no unlisted nested-loop joins") {
    val violations = SparkEntry.all.flatMap { case (name, q) =>
      val (maxShuffles, maxNested) = budgets(name)
      // fresh session per lane: lanes may pin shuffle.partitions or other
      // conf while building; AQE off so the count is the static plan's
      val ss = spark.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val plan = q.fn(ss, dir).queryExecution.executedPlan
        val shuffles =
          plan.collectWithSubqueries { case s: ShuffleExchangeLike => s }.size
        val nested = plan.collectWithSubqueries {
          case c: CartesianProductExec => c
          case b: BroadcastNestedLoopJoinExec => b
        }.size
        (if (shuffles > maxShuffles)
           Seq(s"$name: $shuffles shuffles > budget $maxShuffles") else Nil) ++
        (if (nested > maxNested)
           Seq(s"$name: $nested nested-loop joins > budget $maxNested") else Nil)
      } catch {
        case e: Throwable => Seq(s"$name: plan construction failed: $e")
      }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }
}
