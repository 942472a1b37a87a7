package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan properties PLANS.md documents, so a
  * regression that silently de-optimizes a plan (lost pushdown, extra
  * shuffle, cartesian fallback) fails CI instead of only showing up as
  * a 100 TB incident. Plan shapes are checked at sf0.001 — they are
  * scale-invariant. */
class PlanEvidenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).build(spark, dir).queryExecution.executedPlan.toString

  /** Every registry operator built ONCE for the registry-wide sweeps:
    * (name, executed plan, optimized logical plan). The SQL cache is
    * cleared before each build, as Bench and Verify do, so no plan
    * reads a frame an earlier operator left cached. */
  private lazy val registryPlans: Seq[(String, String, LogicalPlan)] =
    Registry.all.map { q =>
      spark.sharedState.cacheManager.clearCache()
      val qe = q.build(spark, dir).queryExecution
      (q.name, qe.executedPlan.toString, qe.optimizedPlan)
    }

  test("op_filter_project: predicates and pruned schema reach the parquet scan") {
    val p = plan("op_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"shipdate filter not pushed:\n$p")
    assert(!p.contains("l_comment"), "scan reads columns the query never uses")
  }

  test("flagship: dimension joins broadcast, aggregation is partial before exchange") {
    val p = Registry.flagship(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in flagship:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial"),
      "no map-side partial aggregation before the shuffle")
  }

  test("op_sort_limit_topk compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("op_sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k materialized a global sort:\n$p")
  }

  test("NO query in the registry plans an unbounded cartesian/nested-loop join") {
    // ops whose plan DELIBERATELY cross-expands against a broadcast side
    // that is dimension-sized by construction (query rows, centroids,
    // codebooks, an hour/type grid) — bounded, never corpus × corpus
    val deliberateBroadcastExpand = Set(
      "op_similarity_topk",  // 10 broadcast query rows — documented exact baseline
      "op_ann_recall",       // same 10-query exact baseline, graded against the LSH probe
      "op_rank_fusion",      // fuses op_ann_recall's legs — inherits the same bounded panel expansions
      "op_similarity_ivf",   // broadcast codebook (K ~ corpus/157) cell assign
      "op_ann_incremental",  // broadcast codebook (K ~ corpus/157, codebook-sized) assigning cells
      "op_ann_hier",         // broadcast SUPER codebook (~sqrt(K) rows) + child map — the two-level assign
      "op_semdedup",         // same broadcast stride codebook assigning SemDeDup cells
      "op_incremental_e2e",  // same broadcast codebook in its gated B58 vector stage
      "op_vector_pq",        // 4 broadcast codebook entries per block
      "op_ann_pq_incremental", // same 4-entry PQ codebook encode + stride coarse codebook
      "op_ts_gapfill",       // hour×type grid, volume-independent
      "op_bm25",             // 1-row corpus stats (n_docs, avgdl) crossJoin — bounded by construction
      "op_ngram_lm",         // 1-row vocabulary-count crossJoin — bounded by construction
      "op_perplexity_filter", // B46's vocab crossJoin + 1-row doc-count/threshold normalizers
      "op_mixture_weights",  // 1-row normalizer (token total, Σ√n) crossJoin — bounded by construction
      "op_dsir_weights",     // 1-row normalizers (bucket totals, doc count, threshold) — bounded
      "op_stats_zipf",       // 1-row report assembly (totals × regression × top rank) — bounded
      "op_stats_heaps",      // 1-row report assembly (totals × OLS fit) — bounded
      "op_stats_pmi",        // 1-row normalizer (total bigram count N) — bounded
      "op_tfidf_topk")       // 1-row normalizer (doc count N) crossJoin — bounded
    for ((name, p, _) <- registryPlans) {
      assert(!p.contains("CartesianProduct"),
        s"$name plans an unbroadcast cartesian product:\n$p")
      if (!deliberateBroadcastExpand(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join:\n$p")
    }
  }

  test("NO query in the registry plans a Scala UDF — all kernels native") {
    // Every former UDF site (fragment dedupe, HTML table parse,
    // parse_file, DataConverter convert) is now a codegen'd Catalyst
    // expression; this sweeps the whole registry so none re-grows.
    for ((name, p, _) <- registryPlans)
      assert(!p.contains("UDF"), s"$name plans a Scala UDF:\n$p")
  }

  test("tail census: the operators whose root sort reads a persisted frame") {
    // The OpQuery.gradedSort sites plus any bare orderBy over a frame
    // the build persisted. Pinned so that a change to the graded-tail
    // policy (ROADMAP direction 4(b)) edits this list on purpose.
    val persistedTails = registryPlans.collect {
      case (name, _, s: Sort) if s.global && s.child.isInstanceOf[InMemoryRelation] => name
    }.toSet
    assert(persistedTails == PersistedTails,
      s"gained a persisted tail: ${(persistedTails -- PersistedTails).toSeq.sorted}; " +
        s"lost one: ${(PersistedTails -- persistedTails).toSeq.sorted}")
  }


  test("op_zorder: map-side key, ONE bucket-stat shuffle, pruned scan") {
    val p = plan("op_zorder")
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected only the zbucket partial-agg shuffle ($hashExchanges):\n$p")
    assert(p.contains("partial"), "bucket stats must partial-aggregate map-side")
    assert(!p.contains("l_orderkey"), "scan reads columns the layout never uses")
  }

  test("op_quality_classifier: inference rides the scan — zero hash shuffles") {
    val p = plan("op_quality_classifier")
    assert(!p.contains("Exchange hashpartitioning"),
      s"model inference should be a pure projection, no shuffle:\n$p")
    // (no WholeStageCodegen assert: the stop-word `filter` lambda is a
    // higher-order function — CodegenFallback by design, see SKILL.md)
  }

  test("op_mixture_weights: the corpus token-count pass runs ONCE, not per consumer") {
    // the |languages|-row aggregate is localCheckpointed; both consumers
    // (output rows + 1-row normalizer) must read the materialized RDD —
    // a lang-keyed hashpartitioning exchange in the graded plan means
    // the corpus pass leaked back in and would run twice at 100 TB
    val p = plan("op_mixture_weights")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus aggregation re-entered the plan (runs once per consumer):\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected the checkpointed per-language frame:\n$p")
  }

  test("op_join_asof: two skinny hash shuffles, ONE fused Window node") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // every node of the physical tree, through AQE's current plan, its
    // query stages and cached subplans
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    val top = Registry.byName("op_join_asof").build(spark, dir).queryExecution.executedPlan
    // the op's compute tail is persisted before the graded sort (r22):
    // count inside the cached subplan that holds the as-of window
    val cached = nodes(top).collect { case m: InMemoryTableScanExec => m.relation.cachedPlan }
      .filter(c => nodes(c).exists(_.isInstanceOf[WindowExec]))
    assert(cached.length == 1, s"expected one cached as-of subplan:\n$top")
    val body = nodes(cached.head)
    val hashExchanges = body.count {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }
    assert(hashExchanges == 2,
      s"expected click-dedup + as-of-window shuffles only ($hashExchanges):\n${cached.head}")
    val windows = body.count(_.isInstanceOf[WindowExec])
    assert(windows == 1, s"both last() functions must share one Window node:\n${cached.head}")
    assert(!nodes(top).exists(n =>
      n.isInstanceOf[CartesianProductExec] || n.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("incremental probes: the index side is NEVER broadcast-hinted (batch-only-moves)") {
    // The 100 TB contract for every index probe (digest, band, cell):
    // the stored index side reaches the join through a plain exchange
    // (re-plannable to a bucketed-table co-located read), and only the
    // batch moves. With auto-broadcast disabled, a non-hinted equi-join
    // MUST plan as a shuffle join — so a BroadcastHashJoin here can
    // only mean someone HINTED a corpus-sized side. (The deliberate
    // codebook cell assigns are BroadcastNestedLoopJoins — different
    // node, still caught by the registry-wide sweep's allowlist.)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // op_incremental_e2e caches its triage frames: a cached subtree
    // PLANNED earlier (under the default threshold, by another test)
    // would print its auto-broadcast joins inside InMemoryRelation and
    // false-positive this sweep — drop all cache entries so every
    // subtree re-plans under the no-broadcast conf, and again on exit
    // so later tests re-cache under the default conf.
    spark.sharedState.cacheManager.clearCache()
    try {
      for (n <- Seq("op_dedup_incremental", "op_dedup_minhash_incremental",
          "op_index_update", "op_ann_incremental", "op_stream_minhash_probe",
          "op_incremental_e2e")) {
        val p = plan(n).split("== Initial Plan ==").head
        assert(!p.contains("BroadcastHashJoin"),
          s"$n broadcast-hints a corpus-sized index side:\n$p")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("op_split_holdout: assignment rides the scan — no join anywhere in the plan") {
    val p = plan("op_split_holdout").split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"holdout assignment must be a pure projection + agg:\n$p")
    assert(p.contains("partial_"), s"grade agg lost its map-side partial:\n$p")
  }

  test("op_zorder_ranked: bucket+interleave are map-side, ONE wide stat shuffle") {
    val p = plan("op_zorder_ranked").split("== Initial Plan ==").head
    assert(p.contains("graft_quantile_bucket"),
      s"codegen'd QuantileBucket missing from the projection:\n$p")
    assert(p.contains("graft_zorder"), s"codegen'd interleave missing:\n$p")
    val wide = "Exchange hashpartitioning".r.findAllMatchIn(p).size
    assert(wide == 1, s"expected exactly ONE wide shuffle (bucket stats), got $wide:\n$p")
  }

  test("pagerank superstep: ONE join, ONE exchange, edge cache partitioning reused") {
    // pins the r10 loop repairs: no per-iteration deg re-join (one join
    // total), and the co-partitioned edge cache feeds the contribution
    // join without re-shuffling — only the NODE-sized rank frame and
    // the dst agg exchange per superstep. A second exchange or second
    // join here is the 100 TB regression this test exists to catch.
    // (r22 tried the re-join form — deg re-attached per superstep from
    // the cached node table, saving the b-keyed setup edge exchange —
    // and REVERTED it on measurement: 1.77 s -> 2.22 s isolated; the
    // negative result is recorded on pagerankEdges' scaladoc.)
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L)).toDF("a", "b")
    val raw = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable auto-broadcast: at real scale the rank frame is
    // node-sized and shuffles — that is the shape under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val deg = raw.groupBy("a").agg(count(lit(1)).as("deg")).localCheckpoint()
    val edges = graft.operators.Mining.pagerankEdges(raw, deg).cache()
    try {
      edges.count() // materialize so the cached partitioning is live
      val n = deg.count()
      val pr = deg.select(col("a").as("id"), lit(1.0 / n).as("pr"), col("deg"))
      val full = graft.operators.Mining.pagerankStep(edges, pr, n)
        .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      // the cache's one-time SETUP plan prints under InMemoryRelation —
      // cut there so only the PER-SUPERSTEP plan is counted
      val p = full.split("InMemoryRelation").head
      val joins = "MergeJoin|HashJoin".r.findAllMatchIn(p).size
      assert(joins == 1, s"superstep must run ONE contribution join, got $joins:\n$full")
      // ONE exchange: the edges cache is co-partitioned on `a`, and the
      // rank frame arrives pre-partitioned too (the checkpoint/agg's
      // hashpartitioning survives the id→a rename via alias-aware
      // partitioning propagation) — only the dst-keyed agg shuffles
      val wide = "Exchange hashpartitioning".r.findAllMatchIn(p).size
      assert(wide == 1,
        s"superstep must shuffle ONLY the dst agg, got $wide exchanges:\n$full")
      assert(p.contains("InMemoryTableScan"), s"edge side must read the cache:\n$full")
    } finally {
      edges.unpersist(); deg.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("op_vector_pq: block argmin is a min_by aggregation, never a window") {
    // the r11 shape: the per-(vec, block) code assignment combines
    // map-side min_by partials (≤ N×blocks rows shuffle) — a
    // row_number window here would shuffle and sort all N×blocks×k
    // scored rows (the pre-r11 plan). ann_recall's pq branch shares
    // this subtree; its OTHER branches keep their bounded top-3
    // windows, so the pin lives on the window-free op.
    val p = plan("op_vector_pq")
    assert(!p.contains("Window"), s"PQ code assignment regressed to a window:\n$p")
    assert(p.contains("min_by") || p.contains("partial_min_by"),
      s"PQ argmin is not a min_by aggregation:\n$p")
  }

  test("op_dedup_minhash: only the band shuffle and the output-linear pair distinct") {
    val p = plan("op_dedup_minhash")
    // the small-SF CPU-spread repartition (REPARTITION_BY_NUM — a
    // doc_id hash spread since r11, a no-op at production partition
    // counts) is not one of the algorithm's shuffles; count only the
    // ENSURE_REQUIREMENTS exchanges the plan REQUIRES
    val hashExchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REPARTITION_BY_NUM")).toSeq
    assert(hashExchanges.size == 2, s"expected band + distinct shuffles only:\n$p")
    assert(hashExchanges.exists(_.contains("band")),
      "no exchange keyed on the band columns — corpus-wide shuffle instead?")
    assert(hashExchanges.exists(l => l.contains("doc_a") && l.contains("doc_b")),
      "second exchange is not the candidate-pair distinct")
    // neither shuffle may carry the corpus text
    assert(!hashExchanges.exists(_.contains("text")), "a shuffle ships document text")
  }

  /** The 72 operators whose root sort reads a persisted frame — the
    * same set as before the tail policy moved into gradedSort. */
  private val PersistedTails = Set(
    "op_ann_hier", "op_ann_incremental", "op_ann_pq_incremental", "op_chunk_cdc",
    "op_chunk_sliding", "op_coerce_type", "op_decontaminate", "op_dedup_blocks",
    "op_dedup_cc", "op_dedup_embedding", "op_dedup_incremental", "op_dedup_keep_best",
    "op_dedup_minhash_incremental", "op_dedup_ngram_jaccard", "op_dedup_substring",
    "op_detect_csv", "op_detect_html_block", "op_detect_html_table",
    "op_detect_js_object", "op_detect_json", "op_detect_json_ld", "op_detect_kv",
    "op_detect_malformed_json", "op_detect_raw_text", "op_detect_sectioned_json",
    "op_detect_sql", "op_detect_yaml", "op_dispatch_format", "op_dsir_weights",
    "op_filter_gopher", "op_filter_project", "op_fingerprint_winnow",
    "op_fragment_priority_dedup", "op_incremental_e2e", "op_index_update",
    "op_join_asof", "op_kmeans_train", "op_minhash_est", "op_mixture_apply",
    "op_pack_sequences", "op_pack_sequences_bpe", "op_parse_file", "op_parse_kv",
    "op_perplexity_filter", "op_pipeline_e2e", "op_quality_classifier",
    "op_rank_fusion", "op_retention_cohort", "op_scd2_merge", "op_semdedup",
    "op_similarity_ivf", "op_similarity_lsh", "op_sink_textdir", "op_sketch_bloom",
    "op_source_textdir", "op_stream_bloom", "op_stream_chunk_cdc",
    "op_stream_custom_state", "op_stream_dedup_late", "op_stream_dsir",
    "op_stream_minhash_probe", "op_stream_session", "op_stream_static_join",
    "op_text_entropy", "op_text_langid", "op_text_pii_mask", "op_text_quality",
    "op_text_token_count", "op_tfidf_topk", "op_ts_gapfill", "op_window_analytic",
    "op_window_range_frame")
}
