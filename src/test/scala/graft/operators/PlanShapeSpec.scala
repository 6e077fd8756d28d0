package graft.operators

import graft.pipeline.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards: the scale properties this engine sells
  * (broadcast dimension sides, top-k without global sort, no cartesian
  * blowups) live in the PLAN, not the results — a refactor can keep
  * every oracle green while silently regressing to a shuffle-heavy or
  * quadratic plan. These specs execute each query and assert the final
  * (post-AQE) plan contains the load-bearing operator and not its
  * scale-killing alternative.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val d = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, d)
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  test("v1_cosine_topk: top-k via TakeOrderedAndProject, not a global sort") {
    val p = finalPlan("v1_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("flagship_lifecycle: store-gated serving read is top-k + broadcast semi-joins") {
    // the r19 flagship gate's READ side: newest-per-point window, then
    // the store-liveness and RLS semi-joins (both KB-sized sides) must
    // broadcast, and the dense top-k must lower to TakeOrderedAndProject
    // — at 100 TB this is one corpus pass + local heaps, no global sort
    // and no shuffle of the vector log beyond the per-point window
    val p = finalPlan("flagship_lifecycle")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("j1_enrich_broadcast: dimension side is broadcast, not sort-merge") {
    val p = finalPlan("j1_enrich_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("shard_packing2: per-bucket offsets join back as a broadcast") {
    val p = finalPlan("shard_packing2")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("dedup_incremental: index joins never degenerate to a cartesian product") {
    val p = finalPlan("dedup_incremental")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("ann_int8_topk: single-row query broadcast + top-k, no global sort of the corpus") {
    val p = finalPlan("ann_int8_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("ann_lsh_multiprobe: probe list broadcast onto the signature join, no cartesian") {
    val p = finalPlan("ann_lsh_multiprobe")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("ann_recall: truth and approx sides join without a cartesian product") {
    // (the final per-q_id outer join of two ≤k·|Q|-row relations may
    // legitimately sort-merge — only a cartesian is a scale bug here)
    val p = finalPlan("ann_recall")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("corpus_mix: rate table broadcast onto the corpus") {
    val p = finalPlan("corpus_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("tfidf_topk: rank limit pushed below the window, corpus total broadcast") {
    val p = finalPlan("tfidf_topk")
    // WindowGroupLimit is the load-bearing piece at scale: only the
    // per-doc top-5 survive the partial pass, so the final rank window
    // never sees the full (doc, token) relation
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("source_cap: per-source quota cut inside the shuffle (WindowGroupLimit)") {
    val p = finalPlan("source_cap")
    // the rank<=N filter must push into the window shuffle as a partial
    // group limit — quota enforcement never sorts or ranks the full
    // corpus per source beyond the surviving N
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("dup_ngram_ratio: trigram explode stays map-side, no cartesian") {
    val p = finalPlan("dup_ngram_ratio")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the trigram generator must be a native Generate (array transform +
    // explode), not an RDD round-trip or UDF stage
    assert(p.contains("Generate"), p.take(800))
  }

  test("f2_size_filter: predicate reaches the parquet scan as a pushed filter") {
    val p = finalPlan("f2_size_filter")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(n_chars,300)"),
      p.take(1200))
  }

  test("range_join_1h: interval join decomposes to an equi-join, never a theta join") {
    // the bucketized decomposition's whole point is that the range
    // predicate evaluates INSIDE (user, hour-bucket) equi-join groups —
    // a nested-loop or cartesian here is the O(n^2) naive form
    val p = finalPlan("range_join_1h")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("hybrid_bm25_rrf: no single-partition window; ranks come from the bounded join") {
    val p = finalPlan("hybrid_bm25_rrf")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("sessionize: gap windows partition by user, never a global window") {
    val p = finalPlan("sessionize")
    // every window spec carries the user_id partition key; an empty
    // partition spec would collapse the corpus onto one task
    assert(p.contains("windowspecdefinition(user_id"), p.take(1200))
    assert(!p.contains("windowspecdefinition(CAST(0"), p.take(1200))
  }

  test("mm_resize / mm_gray_hist: codec passes are shuffle-free map stages") {
    // the whole point of reducing inside the UDF is that no pixel rows
    // (or any rows besides the per-doc output) ever cross an exchange —
    // the only Exchange allowed is the presentation sort's range
    // partitioning; a hashpartitioning exchange means a join/agg crept
    // into the per-row codec path
    for (q <- Seq("mm_resize", "mm_gray_hist")) {
      val p = finalPlan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q: ${p.take(1200)}")
      assert(!p.contains("CartesianProduct") && !p.contains("Join"),
        s"$q: ${p.take(1200)}")
    }
  }

  test("mm_resize: the codec UDF runs above the range exchange, never in its sampler") {
    // Tables.sortedKernel: the range split sees only (doc_id, n_chars);
    // a codec UDF below the exchange would run twice, once in the
    // range sampler
    val lines = finalPlan("mm_resize").split("== Initial Plan ==").head.linesIterator.toSeq
    val exchange = lines.indexWhere(_.contains("Exchange rangepartitioning"))
    val udfs = lines.indices.filter(i => lines(i).contains("UDF("))
    assert(exchange >= 0 && udfs.nonEmpty, lines.mkString("\n"))
    assert(udfs.forall(_ < exchange), lines.mkString("\n"))
    assert(lines.count(_.contains("Exchange")) == 1, lines.mkString("\n"))
  }

  test("dsir_select: bounded top-N, ratio table broadcast, no corpus sort") {
    val p = finalPlan("dsir_select")
    // selection must lower to a per-partition top-N heap; the B-row
    // log-ratio table and the 100-row selected set broadcast onto the
    // scored relation
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("substring_dedup: span/coverage joins never degenerate to a cartesian") {
    val p = finalPlan("substring_dedup")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("semdedup: the pair space is a cell-keyed equi-join, never a cartesian") {
    // the only nested-loop allowed is the k-row centroid broadcast from
    // the k-means assignment — the member×member join must key on cell
    val p = finalPlan("semdedup")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("quality_classifier: 64-row model broadcast onto the scoring scan") {
    // training is two aggregates; scoring must be a broadcast-model map
    // join + per-doc agg — a sort-merge join on the bucket id would
    // shuffle the full token relation against a KB-sized model
    val p = finalPlan("quality_classifier")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("ccnet_buckets: cutoff table broadcast onto the scored corpus") {
    // the corpus is assigned by comparison against a |langs|-row cutoff
    // table — a sort-merge on lang would shuffle every scored doc
    val p = finalPlan("ccnet_buckets")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("epoch_mix: rate table broadcast, fan-out is a map-side explode") {
    val p = finalPlan("epoch_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("source_overlap: pair join keys on the shingle, sizes broadcast back") {
    val p = finalPlan("source_overlap")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("source_overlap_minhash: no shingle self-join — pairs form on the 16-row signature agg") {
    val p = finalPlan("source_overlap_minhash")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("lm_score_bigram and quality_ensemble: composed joins stay equi-keyed") {
    for (q <- Seq("lm_score_bigram", "quality_ensemble")) {
      val p = finalPlan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
    }
  }

  test("token_budget: rate table broadcast onto the corpus pass") {
    val p = finalPlan("token_budget")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("boilerplate_rate: pure two-level aggregate, no join at all") {
    val p = finalPlan("boilerplate_rate")
    assert(!p.contains("Join"), p.take(1200))
  }

  test("ngram_novelty: shingle-keyed membership join, never a cartesian") {
    val p = finalPlan("ngram_novelty")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("mm_phash_pairs: band-bucket equi-join candidates, never a cartesian") {
    val p = finalPlan("mm_phash_pairs")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("audio_resample: per-doc array interpolation — no window, no keyed exchange") {
    // r19 optimization: the 2× interpolation + framing is computed on
    // the per-doc sample ARRAY (the decode already yields the doc's
    // samples in order), so the plan must carry NO window at all and no
    // hash exchange of decoded samples — the only exchanges allowed are
    // the round-robin kernel widener and the presentation sort. The old
    // per-sample window/groupBy shape shuffled every decoded sample
    // twice and ran the decode subtree twice (union branches).
    val p = finalPlan("audio_resample")
    assert(!p.contains("windowspecdefinition"), p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
    assert(!p.contains("Union"), p.take(1200)) // one decode subtree, not two
  }

  test("dedup_bloom_prefilter: index side scanned, batch-sized exchanges only") {
    // the bloom-prefilter contract: the stored index relations are
    // probed with BROADCAST joins — a sort-merge join here means an
    // index-side Exchange crept back in (the exact regression
    // DedupBloomSpec pins by exchange count; this is the cheap
    // string-level tripwire on the oracled query itself)
    val p = finalPlan("dedup_bloom_prefilter")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("embedding_norm_audit: one scan into a histogram agg, no join or window") {
    val p = finalPlan("embedding_norm_audit")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1200))
  }

  test("lang_confusion: one corpus pass, no doc_id re-join for the declared lang") {
    // the declared lang threads through langProbabilities as a
    // passthrough column; a Join in this plan means someone re-joined
    // the corpus to itself to recover one column
    val p = finalPlan("lang_confusion")
    assert(!p.contains("Join"), p.take(1200))
  }

  test("v2_similar_chunks: anchor broadcast, over-fetch via TakeOrderedAndProject") {
    val p = finalPlan("v2_similar_chunks")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("v2_search_by_doc: document filter reaches the scan, dimension broadcast, no sort-merge") {
    val p = finalPlan("v2_search_by_doc")
    // the must-match source filter composes BEFORE the scan — on the
    // parquet collection it must land as a pushed filter, the whole
    // point of the searchByDocument plan shape vs a post-scan filter
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(source,src3)"),
      p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("dedup candidate prune: the per-doc stats are the broadcast build side") {
    // the candidates can be far larger than the stats; the planner sizes
    // them from the posting lists before their explode, so without the
    // hints it may broadcast the candidates (BuildLeft) instead
    val base = DedupQueries.buildShingleBase(graft.Tables.documents(spark, d))
    val pruned = DedupQueries.prunedPairs(base)
    pruned.collect()
    val p = pruned.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val joins = p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(joins.size == 2 && joins.forall(_.contains("BuildRight")), p.take(1500))
    assert(!p.contains("BuildLeft") && !p.contains("SortMergeJoin"), p.take(1500))
  }

  test("WHOLE SURFACE: no query plans a CartesianProduct (all cross joins broadcast)") {
    // The per-query guards above pin named scale-sensitive plans; this
    // sweep pins the one property that must hold EVERYWHERE — every one
    // of the engine's ~50 crossJoins is against a broadcast
    // scalar/bounded relation (BroadcastNestedLoopJoin, never a
    // cartesian shuffle), previously re-audited by hand each round.
    // Planning only (extended explain resolves physical + subquery
    // plans without executing); string-matched because
    // sparkPlan.collectWithSubqueries CCEs on still-logical subquery
    // plans and AQE's wrapper hides the inner plan from
    // executedPlan.collect.
    graft.expressions.GraftFunctions.register(spark)
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("extended")
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val plan = q(spark, d).queryExecution.explainString(mode)
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning CartesianProductExec: ${offenders.mkString(", ")}")
  }
}
