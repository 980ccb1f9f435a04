package graft

import org.apache.spark.sql.DataFrame

/** Enforces the SCALING.md shuffle budget: each designated query's
  * physical plan carries at most the promised number of shuffle
  * exchanges, and enrichment joins actually broadcast. A regression that
  * turns a broadcast join into a sort-merge join (or adds a shuffle)
  * fails here long before it melts a cluster.
  */
class PlanBudgetSpec extends SparkSpec {

  private def shuffles(df: DataFrame): Int = PlanText.shuffles(df)

  private def broadcasts(df: DataFrame): Int = PlanText.broadcasts(df)

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("pure projections/cascades: zero shuffles") {
    assert(shuffles(q("q02_filter_pushdown")) == 0)
    assert(shuffles(q("q09_split_rows")) == 0)
    assert(shuffles(q("q26_percent_parse")) == 0)
    assert(shuffles(q("q28_clean_fingerprint")) == 0)
    assert(shuffles(q("q42_token_counts")) == 0)
  }

  test("aggregations: exactly one shuffle (partial agg before exchange)") {
    assert(shuffles(q("q01_pricing_summary")) == 1)
    assert(shuffles(q("q03_isin_membership")) == 1)
    assert(shuffles(q("q43_hourly_window")) == 1)
    assert(shuffles(q("q45_json_extract")) == 1)
  }

  test("windows/dedup: exactly one shuffle on the partition key") {
    assert(shuffles(q("q07_first_per_group")) == 1)
    assert(shuffles(q("q08_prioritized_dedup")) == 1)
    assert(shuffles(q("q14_running_total")) == 1)
    assert(shuffles(q("q15_cumprod")) == 1)
  }

  test("enrichment joins broadcast — the fact side never shuffles pre-agg") {
    def hints(df: DataFrame): Int =
      "ResolvedHint".r.findAllIn(df.queryExecution.analyzed.toString).size
    val chain = q("q11_broadcast_chain")
    assert(broadcasts(chain) == 3)
    assert(shuffles(chain) == 1) // only the final aggregate
    // stats-driven since round 16: all three broadcasts are the
    // planner's own choice from ANALYZE'd catalog stats, zero hints
    assert(hints(chain) == 0, "q11's dim joins must be hint-free (stats-driven)")
    val enrich = q("q46_left_enrich")
    assert(broadcasts(enrich) >= 2)
    assert(shuffles(enrich) <= 1)
    // the raw customer dim is stats-driven; the ONE remaining hint is
    // the derived high-spender frame (no catalog stats exist for it)
    assert(hints(enrich) <= 1, "q46 may hint only the derived frame")
    val rollup = q("q48_rollup_compare")
    assert(broadcasts(rollup) >= 2)
    assert(hints(rollup) <= 1, "q48 may hint only the derived 1-row composite")
  }

  test("round-2 queries stay inside the budget") {
    // rollup: grouping-set expansion happens BEFORE the single exchange
    assert(shuffles(q("q64_rollup_totals")) == 1)
    // exact quantiles via distributed order statistics: the per-value
    // count exchange + the group-keyed window exchange (deliberately one
    // more than the old percentile() object-agg, whose buffer held a
    // whole group's values in one executor — the 100 TB OOM hazard)
    assert(shuffles(q("q61_quantile_profile")) == 2)
    // banded near-dup: join on (band,chunk) + distinct — never a crossJoin
    assert(shuffles(q("q57_simhash_neardup")) <= 3)
    assert(!q("q57_simhash_neardup").queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    // frame sampling is a pure generator: no shuffle at all
    assert(shuffles(q("q63_frame_sample")) == 0)
    // pivot with explicit values: agg + pivot fold into two exchanges max
    assert(shuffles(q("q68_pivot_wide")) <= 2)
    // native session_window: one keyed exchange, no window-chain sort pass
    assert(shuffles(q("q69_session_window")) == 1)
  }

  test("round-3 queries stay inside the budget") {
    // decontamination: probe side broadcasts; the corpus side's only
    // exchange is the final per-doc aggregate (probe's own tiny agg adds
    // one more). Never a cartesian product.
    val decon = q("q70_decontaminate")
    assert(broadcasts(decon) == 1)
    assert(shuffles(decon) <= 2)
    assert(!decon.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // repetition ratio is row-local: fused into the scan, zero shuffles
    assert(shuffles(q("q71_repetition")) == 0)
    // mixture table: per-source agg + single-partition window over the
    // 20-row aggregate — the corpus crosses one exchange
    assert(shuffles(q("q72_domain_mixture")) <= 2)
    // filter funnel: row-local cascade + one tiny aggregate
    assert(shuffles(q("q75_filter_funnel")) == 1)
    // stratified sample: pushd-down-able predicate + one aggregate
    assert(shuffles(q("q76_stratified_sample")) == 1)
    // SQ8 ANN: query side broadcasts; candidates shuffle once for the
    // per-query top-k window
    val sq8 = q("q79_ann_sq8")
    assert(broadcasts(sq8) == 1)
    assert(shuffles(sq8) <= 1)
    // LM scoring: model aggregate + scoring aggregate; never a cartesian
    // (total is a 1-row broadcast)
    val lm = q("q77_unigram_logprob")
    assert(shuffles(lm) <= 3)
    assert(!lm.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // tfidf: tf agg + df agg + top-k window
    assert(shuffles(q("q78_tfidf_top_terms")) <= 4)
    // redaction is row-local: zero shuffles
    assert(shuffles(q("q80_pii_redaction")) == 0)
  }

  test("round-4 queries stay inside the budget") {
    // sequence packing: tokenize agg + running-total window + bin agg
    assert(shuffles(q("q83_sequence_pack")) <= 3)
    // span dedup: explode is shuffle-free; paragraph-hash window + doc
    // reassembly agg
    assert(shuffles(q("q84_paragraph_dedup")) <= 2)
    // bloom decontamination: probe set broadcasts (bloom build + confirm
    // join); corpus crosses only its own aggregate exchanges
    val bloom = q("q85_bloom_decontam")
    assert(broadcasts(bloom) >= 2)
    assert(shuffles(bloom) <= 2)
    assert(!bloom.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // SCD2 intervals / CDC apply: one keyed window exchange each
    assert(shuffles(q("q86_scd2_intervals")) == 1)
    assert(shuffles(q("q87_cdc_apply")) == 1)
    // range join: bucketed equi-join, never a cartesian product
    val range = q("q88_range_join")
    assert(!range.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    assert(shuffles(range) <= 2)
    // bigram LM: bigram-count agg + per-doc scoring agg; vocab broadcasts
    assert(shuffles(q("q89_bigram_logprob")) <= 2)
    // snapshot diff: both snapshot sides co-partition on the key + the
    // verdict aggregate — with bucketed snapshots the join legs vanish
    assert(shuffles(q("q90_table_diff")) <= 3)
    // funnel: three entity-keyed aggregates + joins that reuse the key
    assert(shuffles(q("q91_funnel_stages")) <= 7)
    // fixed-k sample / moving average: one keyed window exchange each
    assert(shuffles(q("q92_fixed_k_sample")) == 1)
    assert(shuffles(q("q93_moving_avg")) == 1)
  }

  test("scan layer: column pruning and filter pushdown reach the parquet reader") {
    // toString truncates scan metadata; the formatted explain carries
    // full ReadSchema + PushedFilters
    def planOf(name: String) = q(name).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // q01 projects 7 of lineitem's 11 columns — the scan must not read more
    val p01 = planOf("q01_pricing_summary")
    assert("ReadSchema: [^\n]*".r.findFirstIn(p01).exists { rs =>
      !rs.contains("l_comment") && !rs.contains("l_partkey")
    }, s"q01 scan reads pruned columns:\n$p01")
    // q02's predicate lands in PushedFilters, not a post-scan Filter only
    val p02 = planOf("q02_filter_pushdown")
    assert("PushedFilters: \\[[^\\]]+\\]".r.findFirstIn(p02).isDefined,
      s"q02 has no pushed filters:\n$p02")
    // q76's sampling predicate is md5-derived (not pushable) but the scan
    // must still prune to the three used columns
    val p76 = planOf("q76_stratified_sample")
    assert("ReadSchema: [^\n]*".r.findFirstIn(p76).exists(rs => !rs.contains("text")),
      s"q76 scan reads the unused text column:\n$p76")
  }

  test("round-5 queries stay inside the budget") {
    // end-to-end CVA spine: two fact-side shuffles (boundary-dedup window
    // + FTS aggregate) and two micro-exchanges over already-reduced rows
    // (sub-grant totals, org-type rollup). Every enrichment broadcasts;
    // the fact table never sort-merge-joins or cross-joins.
    val cva = q("q94_cva_end_to_end")
    assert(shuffles(cva) == 4)
    assert(broadcasts(cva) >= 6)
    val plan = cva.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
    // J9 substring match is token-blocked: candidates come from an
    // equi-join on the left's longest token, never a cross product. The
    // degenerate tokenless leg (pure-punctuation names with no token to
    // block on) is a lazily-unioned nested loop whose BUILD side is the
    // broadcast distinct tokenless set — bounded by construction, and a
    // zero-row no-op here. Exactly one such BNLJ is allowed, and it must
    // build on the broadcast (Identity) side; the candidate path itself
    // stays a hash equi-join.
    val substr = q("q31_substring_match").queryExecution.executedPlan.toString
    assert(!substr.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(substr).length <= 1,
      s"more than the one bounded degenerate leg:\n$substr")
    assert(substr.contains("BroadcastHashJoin"),
      s"token-blocked candidate path lost its equi-join:\n$substr")
    // media near-dup rides the banded (band, chunk) equi-join
    val media = q("q98_media_neardup").queryExecution.executedPlan.toString
    assert(!media.contains("CartesianProduct"))
    // S2 nested unnest: ONE shuffle (the collect_list aggregate); the
    // group-same unnest itself is a pure row-local projection — no
    // explode/pivot/self-join ever re-shuffles the nested rows, and the
    // all-NA drop is a separate bounded type-presence probe, not a
    // second execution of the aggregate riding in this plan
    val unnest = q("q95_unnest_nested")
    assert(shuffles(unnest) == 1)
    val unnestPlan = unnest.queryExecution.executedPlan.toString
    assert(!unnestPlan.contains("Generate"), s"q95 explodes:\n$unnestPlan")
    assert(!unnestPlan.contains("PivotFirst"), s"q95 pivots:\n$unnestPlan")
    assert(!unnestPlan.toLowerCase.contains("join"), s"q95 self-joins:\n$unnestPlan")
    // streaming CDC apply is exercised under the oracle (q97); its plan
    // is a streaming sink, so budget asserts live on the batch twin q87
  }

  test("round-5 curation queries stay inside the budget") {
    // within-doc scrub: chunk agg + per-doc reassembly agg, nothing else
    assert(shuffles(q("q99_repetition_scrub")) == 2)
    // stride windows are a pure generator: zero shuffles
    assert(shuffles(q("q100_token_windows")) == 0)
    // mixture sampling: the corpus is filtered in place against ONE
    // broadcast rate table (r6: the global min rides a window over the
    // aggregated per-lang frame, so the rate build scans the corpus once
    // and the second broadcast leg is gone)
    val mix = q("q101_temperature_mix")
    assert(broadcasts(mix) >= 1)
    assert(shuffles(mix) <= 3)
    assert(!mix.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    // shard layout: one exchange on the shard key (the within-shard sort
    // IS the output contract — ordered writer tasks)
    assert(shuffles(q("q102_shard_assign")) == 1)
    // pack materialization: the prefix-sum's two exchanges + the per-bin
    // reassembly aggregate; the boundary cut itself is a pure generator
    assert(shuffles(q("q104_pack_materialize")) <= 4)
    // SE3 intersect: distinct + semi join on co-partitioned keys — two
    // keyed exchanges and never a cross product
    val inter = q("q105_intersect")
    assert(shuffles(inter) <= 2)
    assert(!inter.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // semantic dedup: all-pairs only via the keyed cell join (equi-join
    // on cid, broadcastable here), dup-set distinct is the one required
    // exchange, survivors come back as a broadcast anti-join
    val sem = q("q106_semdedup")
    assert(shuffles(sem) <= 2)
    val semPlan = sem.queryExecution.executedPlan.toString
    assert(!semPlan.contains("CartesianProduct") && !semPlan.contains("SortMergeJoin"))
    // weighted sampling: global top-n must plan as TakeOrderedAndProject
    // (per-partition partial top-n) — no global sort, no shuffle at all
    val ws = q("q107_weighted_sample")
    assert(shuffles(ws) == 0)
    assert(ws.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    // repeat up-sampling: the corpus scans once per side — the per-lang
    // rate (agg + 5-row global window) builds with two tiny exchanges and
    // broadcasts; the explode is a row-local generator, so the multiplied
    // rows never cross an exchange
    val ru = q("q108_repeat_upsample")
    assert(shuffles(ru) <= 2)
    val ruPlan = ru.queryExecution.executedPlan.toString
    assert(ruPlan.contains("Generate") && !ruPlan.contains("SortMergeJoin"))
    // classifier apply: the model is plan literals, so scoring is a pure
    // map stage — scan + projections, zero shuffles, zero joins; and the
    // expensive per-class fold appears exactly once (the two-step select
    // keeps CollapseProject from inlining it into both outputs)
    val nb = q("q110_nb_classifier")
    assert(shuffles(nb) == 0)
    val nbPlan = nb.queryExecution.executedPlan.toString
    assert(!nbPlan.contains("Join"))
    assert("array_max".r.findAllIn(nbPlan).size == 1)
    // token-budget selection: the global ordered cumsum goes through the
    // two-phase prefix scan (bucket subtotal agg + broadcast offsets +
    // within-bucket window) — never a single-partition window over the
    // corpus; selection is a row-local filter
    val tb = q("q113_token_budget")
    assert(shuffles(tb) <= 4)
    assert(broadcasts(tb) >= 1)
    assert(!tb.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // exact substring dedup: the shingle explode is shuffle-free; the
    // cross-doc test is one hash-keyed exchange and the island merge one
    // doc-keyed exchange — no join anywhere in the plan. Occurrences
    // ride the hash aggregate as a SIZE-CAPPED bounded_top_k (buffer
    // <= maxOcc rows per shingle even map-side), so the boilerplate
    // hot-shingle key cannot grow a reducer row without bound — the
    // r6-verdict skew hazard, fenced here.
    val ds = q("q114_dup_spans")
    assert(shuffles(ds) == 2)
    val dsPlan = ds.queryExecution.executedPlan.toString
    assert(!dsPlan.contains("Join"))
    assert(dsPlan.contains("bounded_top_k") && !dsPlan.contains("collect_list(struct(doc_id"))
    // BM25: only query-term HITS ever shuffle (the isin filter precedes
    // the (doc,term) aggregate); df/stats come back as broadcasts, the
    // corpus-sized token frame crosses no exchange
    val bm = q("q115_bm25")
    assert(shuffles(bm) <= 4)
    assert(broadcasts(bm) >= 1)
    val bmPlan = bm.queryExecution.executedPlan.toString
    assert(!bmPlan.contains("SortMergeJoin") && !bmPlan.contains("CartesianProduct"))
  }

  test("row_number()<=k oracle queries plan as bounded top-k, not a window sort") {
    for (name <- Seq("q18_argmax_per_group", "q92_fixed_k_sample")) {
      val plan = q(name).queryExecution.executedPlan.toString
      assert(plan.contains("bounded_top_k"), s"$name kept the window plan:\n$plan")
      assert(!plan.contains("WindowExec"), s"$name still sorts a window:\n$plan")
      assert(shuffles(q(name)) == 1, s"$name budget: one keyed exchange")
    }
  }

  test("CMS heavy hitters: fixed-width sketch aggregation, estimate side broadcasts") {
    // the sketch build's keyspace is pinned at d×w = 4,096 cells, so its
    // exchange (and per-task partial map) cannot grow with vocabulary;
    // the estimate join rides broadcasts of the cell table and the 1-row
    // total — no cross product, no sort-merge join
    val cms = q("q121_cms_heavy_hitters")
    val plan = cms.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q121 cross-products:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"q121 sort-merge-joins:\n$plan")
    assert(broadcasts(cms) >= 2, s"q121 sketch/total not broadcast:\n$plan")
    assert(shuffles(cms) <= 4)
  }

  test("sketch-only heavy hitters: join-free decision path, distinct only over survivors") {
    // q124 is the decision path: the RETURNED plan is the second scan
    // alone — the cell build collects at build time and enters this scan
    // as plan literals, so each occurrence's estimate and the heavy test
    // are row-local expressions (no join, no broadcast, nothing to
    // shuffle but the survivor distinct). The q121 measuring-stick
    // groupBy(token) over the full stream must not appear: the only
    // token-keyed aggregate dedups rows that already passed the sketch's
    // own threshold filter, so its state is the output set.
    val so = q("q124_cms_sketch_only")
    val plan = so.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q124 decision path grew a join:\n$plan")
    assert(broadcasts(so) == 0, s"q124 should need no broadcast at all:\n$plan")
    assert(shuffles(so) <= 1, s"q124 should shuffle only the survivor distinct:\n$plan")
    // Structurally (walked on the plan tree, not grepped): every
    // token-keyed aggregate's input must flow through the decision
    // FilterExec — the literal-sketch estimate test, recognizable by the
    // cmsestimateexpr kernel Catalyst inlines when it pushes the filter
    // below the projection. A token-keyed agg without that filter under
    // it is exactly the vocabulary-sized state this query must never
    // build.
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    // AdaptiveSparkPlanExec holds its plan in a field, not in children —
    // TreeNode.collect would see an empty tree without the unwrap
    val root = so.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val tokenAggs = root.collect {
      case h: HashAggregateExec
        if h.groupingExpressions.exists(_.name.startsWith("token")) => h
    }
    assert(tokenAggs.nonEmpty, s"q124 lost its survivor dedup:\n$plan")
    tokenAggs.foreach { h =>
      val decisionFilters = h.collect {
        case f: FilterExec
          if f.condition.toString.toLowerCase.contains("cmsestimate") => f
      }
      assert(decisionFilters.nonEmpty,
        s"q124 token-keyed aggregate not fed by the sketch's decision filter:\n$h")
    }
  }

  test("HLL: two partial-agg shuffles, no join, no sort") {
    // q128 is scan → (grp, register) max-agg → (grp) sum-agg: the first
    // exchange carries ≤256 rows per (partition, group) after the
    // partial max, the second 256 per group — nothing else may appear
    val hll = q("q128_hll_distinct")
    val plan = hll.queryExecution.executedPlan.toString
    assert(shuffles(hll) == 2, s"q128 shuffle count:\n$plan")
    assert(!plan.contains("Join"), s"q128 grew a join:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Sort "),
      s"q128 sorts:\n$plan")
  }

  test("zorder spine: staged read is a pure scan-filter-agg, one shuffle") {
    val zs = q("q125_zorder_spine")
    val plan = zs.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    // scan → filter → partial agg → exchange(s) → final agg; the
    // count(DISTINCT id) adds its id-keyed pre-distinct exchange
    assert(shuffles(zs) <= 2, s"q125 staged read shuffles:\n$plan")
    // the box predicates reach the parquet scan as pushed filters
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(id,200)"),
      s"q125 box filter not pushed:\n$plan")
  }

  test("quantile sample: hash-rank filter runs the primitive heap, sample keys broadcast") {
    // the corpus meets only the k·8-byte-per-group heap and a broadcast
    // semi-join; the only Window sorts the ≤ groups×k sample rows
    val qs = q("q122_quantile_sample")
    val plan = qs.queryExecution.executedPlan.toString
    assert(plan.contains("bounded_top_k_doubles"), s"q122 kept the window sort:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"q122 wide join:\n$plan")
    assert(broadcasts(qs) >= 1, s"q122 sample keys not broadcast:\n$plan")
  }

  test("KMV sketch: bounded top-k heap, no sorts, bounded per-group state") {
    // distinct pre-agg (1 exchange) + bounded_top_k on the group key
    // (1 exchange); the post-explode re-agg's exchange carries at most
    // k rows per group — the only unbounded-width stages are hash aggs
    val kmv = q("q119_kmv_distinct")
    val plan = kmv.queryExecution.executedPlan.toString
    assert(plan.contains("bounded_top_k"), s"q119 kept the window plan:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Sort "),
      s"q119 sorts:\n$plan")
    assert(shuffles(kmv) <= 3)
  }

  test("incremental dedup: history never shuffles or sort-merge-joins") {
    // both join legs broadcast the batch-derived side; history's rows
    // cross no exchange (the distinct after the semi-join carries only
    // collided band keys — batch-bounded)
    val inc = q("q103_incremental_dedup")
    val plan = inc.queryExecution.executedPlan.toString
    assert(broadcasts(inc) >= 2)
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
    // the embedding-space twin keeps the same discipline: history only
    // ever inner-joins a broadcast batch side; the two exchanges are the
    // batch-bounded dup-id distincts
    val sem = q("q109_semdedup_incremental")
    val semPlan = sem.queryExecution.executedPlan.toString
    assert(broadcasts(sem) >= 3)
    assert(shuffles(sem) <= 2)
    assert(!semPlan.contains("SortMergeJoin"))
    assert(!semPlan.contains("CartesianProduct"))
    // leakage-safe split: components are dup-cluster-sized and broadcast
    // back onto the corpus — the corpus-sized side never sort-merge-joins
    // and the pair stage stays band-blocked (no cross product)
    val ls = q("q111_leakage_split")
    val lsPlan = ls.queryExecution.executedPlan.toString
    assert(broadcasts(ls) >= 1)
    assert(!lsPlan.contains("SortMergeJoin"))
    assert(!lsPlan.contains("CartesianProduct"))
  }

  test("ANN per-query top-k plans as bounded top-k, not a window sort") {
    // Knn's three search paths share the row_number()<=k idiom; the
    // rewrite must fire on all of them — at 100 TB the candidate set is
    // Q·N rows and a full window sort of it is the dominant cost.
    for (name <- Seq("q37_ann_bruteforce", "q38_ann_lsh", "q53_ann_ivf",
        "q96_ann_ivf_trained", "q126_ann_pq", "q127_ann_ivfpq",
        "q129_ann_ivfpq_residual", "q138_ann_ivf_tree", "q139_ann_ivfpq_faiss",
        "q141_ann_tree_persisted", "q144_ann_ivfpq_persisted",
        "q145_ann_ivfpq_coded", "q148_ann_ivfpq_append",
        "q149_ann_segment_compact")) {
      val plan = q(name).queryExecution.executedPlan.toString
      assert(plan.contains("bounded_top_k"), s"$name kept the window plan:\n$plan")
      assert(!plan.contains("WindowExec"), s"$name still sorts a window:\n$plan")
    }
    // q149's probed-cell prefilter must REACH THE PARQUET READER of the
    // compacted segment: the cell IN-list shows up as a pushed filter,
    // which is what lets footer stats skip row groups the probes never
    // touch on the cell-clustered layout
    val compactPlan = q("q149_ann_segment_compact")
      .queryExecution.executedPlan.toString
    assert(compactPlan.contains("In(cell"),
      s"q149's cell prefilter never reached the scan:\n$compactPlan")

    // PQ two-stage: both the Q·r shortlist and the query vectors reach
    // the corpus as broadcasts — the full-width vector column never
    // crosses an exchange on the corpus side
    val pq = q("q126_ann_pq")
    assert(broadcasts(pq) >= 2, "q126 shortlist/query sides must broadcast")
    assert(!pq.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
  }

  test("flagship entry: the q94 spine — broadcast-only joins") {
    val e = SparkEntry.entry(spark)
    assert(broadcasts(e) >= 6)
    assert(shuffles(e) == 4)
    assert(!e.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
  }

  test("flagging spine: fact rows never shuffle — project/predictions sides broadcast") {
    // §3.2 as one plan: every exchange carries reduced data (two distinct
    // builds, the candidate-sized predictions, the final rollup); the
    // flow table itself reaches the aggregate through broadcast joins only
    val f = q("q112_flagging_end_to_end")
    assert(broadcasts(f) >= 2)
    assert(shuffles(f) <= 4)
    val plan = f.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
    // native-mode variant: the scored candidates come back through the
    // RDD inference boundary and BROADCAST onto the unshuffled fact
    // side — the codegen break stays inside the candidate subtree
    val b = q("q116_batched_inference")
    assert(broadcasts(b) >= 2)
    assert(shuffles(b) <= 2) // final rollup (+ AQE variance); never the facts
    val bp = b.queryExecution.executedPlan.toString
    assert(bp.contains("ExistingRDD")) // the inference boundary is in-plan
    assert(!bp.contains("SortMergeJoin"))
    assert(!bp.contains("CartesianProduct"))
  }

  test("staged spine: the bucketed join legs cross zero exchanges") {
    // broadcast disabled so the co-located bucket path is what's proven —
    // with it on, a small preds side would be exchange-free trivially
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sj = q("q117_staged_spine_join")
      // the ONLY exchange is the final (year, class) rollup: both join
      // legs read bucketed staging that already satisfies
      // hashpartitioning(id), so the curation shuffle paid at staging
      // time never recurs downstream
      assert(shuffles(sj) == 1)
      val plan = sj.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(plan.contains("Bucketed: true"))
      assert(!plan.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("LLM-corpus spine (q153): documents scanned once — the composed plan reads only the checkpoint") {
    // the six curation stages (quality → exact dedup → minhash drop →
    // semdedup → decontaminate → pack) all derive from ONE checkpointed
    // pass over documents.parquet — including the decontamination
    // probe's second reference — so the composed plan must contain ZERO
    // parquet scans of documents: every doc-side leaf is the
    // checkpointed derivation (ExistingRDD / InMemory scan)
    val e2e = graft.queries.EndToEndQueries.llmCorpusEndToEnd(spark, sf)
    val plan = e2e.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "q153's composed plan re-scans documents.parquet instead of the checkpointed derivation")
    assert(plan.contains("ExistingRDD"), "checkpointed doc derivation missing from the plan")
    assert(!plan.contains("CartesianProduct"))
    // the decontamination sides broadcast (probe grams + contaminated ids)
    assert(broadcasts(e2e) >= 2)
  }

  test("incremental refresh (q156): the serving plan never rescans the base table") {
    // the refresh reads the materialized rollup (|keys| rows) plus the
    // delta landing file; history depth is paid ONLY at staging time —
    // a plan that still scans events.parquet is a full recompute in
    // disguise
    val q = SparkEntry.queries("q156_agg_incremental_refresh")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("events.parquet"),
      "q156's serving plan rescans events.parquet instead of the materialized partials")
  }

  test("CDC refresh (q163): retractions fold without rescanning history") {
    // corrections cost O(delta + |keys|): the plan reads the
    // materialized partials + the CDC landing file, never events.parquet
    val q = SparkEntry.queries("q163_cdc_incremental_refresh")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("events.parquet"),
      "q163's refresh plan rescans events.parquet instead of folding signed partials")
  }

  test("SCD2 join-IVM (q165): delta-only as-of enrichment, dim broadcast, base never rescanned") {
    // the refresh reads three at-rest artifacts (dim, partials, delta);
    // the as-of join is paid only for the delta and the versioned dim
    // broadcasts — a rescan of events.parquet would be the full
    // recompute the maintained view exists to avoid
    val q = SparkEntry.queries("q165_scd2_join_ivm")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("events.parquet"),
      "q165's refresh plan rescans events.parquet")
    assert(broadcasts(q) == 1)
    assert(!plan.contains("SortMergeJoin"))
  }

  test("join-view refresh (q160): delta-only enrichment, dims broadcast, base never rescanned") {
    val q = SparkEntry.queries("q160_join_incremental_refresh")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("orders.parquet"),
      "q160's serving plan rescans orders.parquet instead of the materialized partials")
    // both dimension joins broadcast WITHOUT hints since round 15 — the
    // dims are ANALYZE'd catalog tables and the planner sizes the build
    // side from CatalogStatistics (a regression to SortMergeJoin here
    // means the stats pathway broke)
    assert(broadcasts(q) == 2)
    assert(!plan.contains("SortMergeJoin"))
    assert(!q.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q160's dim joins must stay hint-free (stats-driven)")
  }

  test("stats-driven broadcast (q186): the planner broadcasts from catalog stats, hint-free") {
    import org.apache.spark.sql.functions.col
    val j = q("q186_stats_broadcast_join")
    assert(broadcasts(j) >= 1, "dim join must auto-broadcast")
    assert(!j.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    assert(!j.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q186 must carry no broadcast hint — the decision belongs to the stats")
    // the ANALYZE really landed: the catalog row carries a row count
    val tbl = graft.queries.RelationalQueries.statsDimName(sf, "customer_seg", "customer")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    assert(meta.stats.exists(_.rowCount.exists(_.toLong > 0)),
      s"catalog stats missing on $tbl: ${meta.stats}")
    // and the planner's estimate flows FROM it: under CBO the filtered
    // dim still has a row-count estimate — a file-listing fallback
    // carries bytes only, never a row count
    val prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table(tbl).filter(col("c_custkey") < 150)
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.isDefined, s"estimate not stats-driven: $stats")
      assert(stats.rowCount.get.toLong <= meta.stats.get.rowCount.get.toLong,
        "filter estimation must not grow the row count")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("CDC join refresh (q170): retractions enrich through broadcast dims, base never rescanned") {
    val q = SparkEntry.queries("q170_cdc_join_refresh")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("orders.parquet"),
      "q170's refresh plan rescans orders.parquet instead of folding signed partials")
    assert(broadcasts(q) == 2)
    assert(!plan.contains("SortMergeJoin"))
    // round 17: the delta enrichment dims went through statsDim — the
    // two broadcasts above are the planner's own stats-driven choice
    assert(!q.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q170's dim joins must stay hint-free (stats-driven)")
  }

  test("no raw-table broadcast hints remain in query code (stats-driven sweep)") {
    // the round-15/16/17 sweep's end state, pinned at source level: a
    // broadcast() hint on a RAW dimension table is an unconditional
    // override that can't flip to shuffle when the dim outgrows the
    // threshold on a real cluster — raw dims go through statsDim
    // (ANALYZE'd catalog stats); explicit hints are reserved for
    // DERIVED frames, where the hint IS the statistics.
    val qdir = new java.io.File("src/main/scala/graft/queries")
    val offenders = Option(qdir.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val hits = try src.getLines().zipWithIndex.collect {
          case (l, i) if l.contains("broadcast(Tables.") => s"${f.getName}:${i + 1}"
        }.toList finally src.close()
        hits
      }
    assert(offenders.isEmpty,
      s"raw-table broadcast hints must go through statsDim: ${offenders.mkString(", ")}")
  }

  test("every broadcast hint in main source is classified as provably bounded") {
    // Round-19 widening of the pin above: the r18 judge found two
    // CORPUS-derived broadcast(labels) hints that survived two rounds of
    // plan audits precisely because the sweep grepped only
    // `broadcast(Tables.`. This sweep classifies EVERY `broadcast(` call
    // site in src/main by (file, argument head) against an allowlist of
    // frames that are provably O(batch), O(k), or dimension-sized — a
    // new hint on an unclassified frame fails the build until it is
    // argued bounded here. A hint is an unconditional override: at
    // 100 TB an unbounded build side OOMs, it does not degrade.
    val allow: Set[(String, String)] = Set(
      // ANN: query sides (Q rows), probed cells (<= nprobe), centroids (k<=256)
      ("AnnQueries.scala", "a"), ("AnnQueries.scala", "centroids"),
      ("AnnQueries.scala", "probe"),
      ("Knn.scala", "q"), ("Knn.scala", "p"), // p: the 1-row MMR pick
      ("Pq.scala", "q"), ("Pq.scala", "qv"),
      ("Pq.scala", "short"),      // Q·r shortlist, r fixed
      ("Pq.scala", "tombstones"), // O(deletes in the maintenance batch)
      ("SpineProbe.scala", "pq"), ("SpineProbe.scala", "wq"),
      // corpus planning: per-source/per-lang aggregates (O(#sources)),
      // 1-row totals/min frames
      ("CurationQueries.scala", "budgets"), ("CurationQueries.scala", "fByLang"),
      ("CurationQueries.scala", "rate"), ("CurationQueries.scala", "wt"),
      // dedup batch queries: near-dup cluster labels (comp), and the
      // retraction queries' (q181/q182) delete-derived frames — touched
      // components, deleted ids, relabeled rows. The corpus-derived
      // labels frames deliberately do NOT
      // appear (r18 finding — hints removed). The streamed folds hold
      // their batch-sized frames on the driver and filter by InSet
      // (DedupQueries.semiIn/antiIn), so they carry no hint at all.
      ("DedupQueries.scala", "comp"), ("DedupQueries.scala", "deleted"),
      ("DedupQueries.scala", "relabeled"), ("DedupQueries.scala", "touched"),
      // end-to-end spines: probe/eval sets, candidate-sized predictions,
      // project dims, year spans
      ("EndToEndQueries.scala", "contaminated"), ("EndToEndQueries.scala", "preds"),
      ("EndToEndQueries.scala", "probe"), ("EndToEndQueries.scala", "projects"),
      ("EndToEndQueries.scala", "scored"), ("EndToEndQueries.scala", "semDups"),
      ("EndToEndQueries.scala", "years"),
      // CVA reference surface: country/org/question dims, per-(iso,year)
      // rate tables, survey-side aggregates — all reference-bounded
      ("ExchangeRates.scala", "df"), ("FlowCuration.scala", "isos"),
      ("GlobalAnalysis.scala", "orgTypes"), ("GlobalAnalysis.scala", "pcTv"),
      ("GlobalAnalysis.scala", "sg"), ("Projects.scala", "questions"),
      // operator API contracts: lookup/override sides are dim-sized by
      // the operator's documented contract (fallback join, manual-match,
      // degenerate tokenless leg, pivot mapping, per-bucket offsets)
      ("Joins.scala", "exclude"), ("Joins.scala", "fb"), ("Joins.scala", "primary"),
      ("FuzzyJoin.scala", "m"), ("FuzzyJoin.scala", "tokenless"),
      ("Reshape.scala", "pm"), ("PrefixSum.scala", "offsets"),
      // pipeline/IVM: bucket bounds, dims, eval sigs, probe fingerprints,
      // 1-row totals, marked keys
      ("PipelineQueries.scala", "bounds"), ("PipelineQueries.scala", "dim"),
      ("PipelineQueries.scala", "evalSigs"), ("PipelineQueries.scala", "marked"),
      ("PipelineQueries.scala", "probeFp"), ("PipelineQueries.scala", "total"),
      // semdedup: per-cell candidates (cell-capped); dup sets are
      // FLAG-GUARDED (broadcastDups — documented off-switch for high-dup
      // corpora), duplicate-flag probes ride the same guard upstream
      ("SemDedup.scala", "bCand"), ("SemDedup.scala", "dups"),
      ("SemDedup.scala", "dupsB"), ("SemDedup.scala", "dupsH"),
      // enrichment: 1-row composite deflator, derived high-spender frame
      // (the q46 hint the budget test above allows explicitly)
      ("SourceQueries.scala", "composite"), ("SourceQueries.scala", "highSpenders"),
      // banded dedup: batch band keys / collided band keys — O(batch)
      ("TextDedup.scala", "bKeys"), ("TextDedup.scala", "collided"),
      // text stats: CMS cell table (4096 rows), query-term doc freqs,
      // 1-row totals, probe gram sets, corpus-stat singletons
      ("TextQueries.scala", "cms"), ("TextQueries.scala", "dfc"),
      ("TextQueries.scala", "nDocs"), ("TextQueries.scala", "probe"),
      ("TextQueries.scala", "stats"), ("TextQueries.scala", "tot"),
      ("TextQueries.scala", "total"),
      // windows: per-bucket bounds, customer dim, growth-rate lookup,
      // anchor key sets
      ("WindowQueries.scala", "bounds"), ("WindowQueries.scala", "cust"),
      ("WindowQueries.scala", "growth"), ("WindowQueries.scala", "keys"))
    val head = """broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)""".r
    val trailing = """broadcast\(\s*$""".r
    val ident = """\s*([A-Za-z_][A-Za-z0-9_]*)""".r
    def walk(dir: java.io.File): Seq[java.io.File] = {
      val fs = Option(dir.listFiles()).toSeq.flatten
      fs.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
        fs.filter(_.isDirectory).flatMap(walk)
    }
    val unclassified = walk(new java.io.File("src/main/scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.zipWithIndex.flatMap { case (l, i) =>
        val code = l.takeWhile(_ != '/') // strip line comments crudely
        val heads = head.findAllMatchIn(code).map(_.group(1)).toList ++
          (if (trailing.findFirstIn(code).isDefined && i + 1 < lines.size)
             ident.findPrefixMatchOf(lines(i + 1)).map(_.group(1)).toList
           else Nil)
        heads.collect {
          case h if !allow((f.getName, h)) => s"${f.getName}:${i + 1} broadcast($h…)"
        }
      }
    }
    assert(unclassified.isEmpty,
      s"unclassified broadcast hints — argue each bounded in the allowlist " +
        s"above or drop the hint:\n  ${unclassified.mkString("\n  ")}")
    // and the two r18 corpus-derived hints stay dead: no broadcast(labels
    // anywhere in main source
    val labelHints = walk(new java.io.File("src/main/scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val hits = try src.getLines().zipWithIndex.collect {
        case (l, i) if l.contains("broadcast(labels") => s"${f.getName}:${i + 1}"
      }.toList finally src.close()
      hits
    }
    assert(labelHints.isEmpty,
      s"corpus-derived labels frames must never carry a broadcast hint: " +
        labelHints.mkString(", "))
  }

  test("incremental SCD2 (q169): the rebuild reads only touched buckets") {
    // the refresh's log read must open exactly the delta's touched
    // bucket dirs (of 64) — a rebuild that scans the whole log is the
    // from-scratch build in disguise
    val (pruned, touched) = graft.queries.PipelineQueries.scd2TouchedRebuild(spark, sf)
    assert(touched.nonEmpty && touched.size < 32,
      s"fixture degenerate: delta touches ${touched.size} of 64 buckets — pruning vacuous")
    val phys = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = phys.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("scd2_log")) => f
    }
    assert(scans.nonEmpty, "bucket-partitioned log scan missing from the rebuild plan")
    scans.foreach { f =>
      assert(f.partitionFilters.exists(_.toString.contains("bucket")),
        s"bucket filter not pushed to partition pruning: ${f.partitionFilters}")
      assert(f.relation.location.listFiles(f.partitionFilters, f.dataFilters).size == touched.size,
        "rebuild opened buckets the delta never touched")
    }
  }

  test("cluster retraction (q181/q182): untouched components' state is never read") {
    import graft.queries.DedupQueries
    def prunedScanPartitions(df: DataFrame, pathTag: String, expect: Int): Unit = {
      val phys = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scans = phys.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(pathTag)) => f
      }
      assert(scans.nonEmpty, s"bucket-partitioned $pathTag scan missing from the plan")
      scans.foreach { f =>
        assert(f.partitionFilters.exists(_.toString.contains("bucket")),
          s"bucket filter not pushed to partition pruning: ${f.partitionFilters}")
        assert(f.relation.location.listFiles(f.partitionFilters, f.dataFilters).size == expect,
          s"$pathTag read opened buckets the deletes never touched")
      }
    }
    // the pruning proofs need a MULTI-bucket state: the default staging
    // derives its bucket count from the byte-floor density rule (r19)
    // and legitimately collapses to 1 bucket at test SFs, which would
    // make every assert below vacuous — so probe the gate-staged state
    // at the pinned production-shaped counts instead
    val cc16 = Some(DedupQueries.ccGateStateDir(spark, sf, 16))
    val surv64 = Some(DedupQueries.survivorGateStateDir(spark, sf, cc16.get, 64))
    // q181: the delete batch opens only its components' edge partitions
    val (prunedEdges, edgeBuckets) =
      DedupQueries.componentsTouchedRead(spark, sf,
        DedupQueries.ccTouchedComps(spark, sf, cc16), cc16)
    assert(edgeBuckets.nonEmpty && edgeBuckets.size < 16,
      s"fixture degenerate: deletes touch ${edgeBuckets.size} of 16 edge buckets — pruning vacuous")
    prunedScanPartitions(prunedEdges, "cc_gate", edgeBuckets.size)
    // q182: re-election opens only touched membership buckets
    val (members, memberBuckets) =
      DedupQueries.survivorTouchedRead(spark, sf,
        DedupQueries.survivorTouchedComps(spark, sf, cc16), surv64)
    assert(memberBuckets.nonEmpty && memberBuckets.size < 64,
      s"fixture degenerate: deletes touch ${memberBuckets.size} of 64 membership buckets")
    prunedScanPartitions(members, "survivor_gate", memberBuckets.size)
    // r17: the doc-keyed companion index — an id-keyed probe opens only
    // pmod(id, nb) partitions of the byid mirror, never the full label
    // relation (the r16 read floor). A probe bucket holding no labels
    // has no partition dir, so the expected file count is the probe
    // buckets' intersection with the dirs that exist.
    import org.apache.spark.sql.functions.col
    val probeIds = spark.range(1, 40, 7).select(col("id"))
    val (byidRead, idBuckets) = DedupQueries.ccLabelsForIdsRead(spark, sf, probeIds, cc16)
    assert(idBuckets.nonEmpty && idBuckets.size < 16,
      s"fixture degenerate: probe ids land in ${idBuckets.size} of 16 byid buckets")
    val byidDirs = Option(new java.io.File(
        s"${cc16.get}/labels_byid").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toInt).toSet
    val expectByid = idBuckets.count(byidDirs)
    assert(expectByid > 0 && expectByid < byidDirs.size,
      s"fixture degenerate: probe covers $expectByid of ${byidDirs.size} existing byid buckets")
    prunedScanPartitions(byidRead, "labels_byid", expectByid)
  }

  test("CDC fold (q187): a 1-doc batch writes a strict subset of BOTH label keyings") {
    // the r17 byid mirror must follow the same subset-write contract as
    // the component-keyed generations — a gen materializing all 16
    // buckets under either keying is a full-snapshot rewrite in disguise
    import graft.queries.{BucketedGens, DedupQueries}
    import org.apache.spark.sql.functions.{col, lit, min}
    // gate-staged at 16 buckets: the derived default can collapse to 1
    // bucket at test SFs and make the strict-subset asserts vacuous
    val ccState = DedupQueries.ccGateStateDir(spark, sf, 16)
    val root = java.nio.file.Files.createTempDirectory("graft_cdcgen_").toString
    val one = spark.read.parquet(s"$ccState/labels")
      .agg(min(col("id")).as("doc_id"))
      .select(lit("D").as("op"), col("doc_id"),
        lit(null).cast("long").as("simhash"))
    val sigs = one.select(col("doc_id"), lit(0L).as("simhash")).limit(0)
    DedupQueries.componentsCdcStep(ccState, root, one, 0L, sigs,
      historyPred = lit(true))
    def bucketDirs(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("bucket=")).map(_.getName)
    val lb = bucketDirs(s"$root/labels/gen-0")
    assert(lb.size < 16,
      s"label gen-0 wrote ${lb.size} of 16 buckets — the fold rewrote untouched state")
    val bb = bucketDirs(s"$root/labels_byid/gen-0")
    assert(bb.nonEmpty && bb.size < 16,
      s"byid gen-0 wrote ${bb.size} of 16 buckets — the mirror rewrote untouched state")
    // both keyings commit the same standing count
    assert(BucketedGens.latest(s"$root/labels").get.rows ==
      BucketedGens.latest(s"$root/labels_byid").get.rows)
    // the ops ledger segment is O(batch): exactly the one delete row
    assert(graft.queries.SegLedger.rows(s"$root/ops", 1L) == 1L)
  }

  test("bucketed generations (q185/q188): a 1-delete batch writes a strict subset of buckets") {
    // the state-I/O contract: a fold's generation dir holds ONLY the
    // bucket partitions the batch touched — a gen that materializes all
    // 16 label (or 64 manifest) buckets is a full-snapshot rewrite in
    // disguise, O(corpus) write I/O per micro-batch at scale
    import graft.queries.{BucketedGens, DedupQueries}
    import org.apache.spark.sql.functions.{col, min}
    // gate-staged at the pinned 16/64 counts — see the pruning test
    val ccState = DedupQueries.ccGateStateDir(spark, sf, 16)
    val survState = DedupQueries.survivorGateStateDir(spark, sf, ccState, 64)
    val root = java.nio.file.Files.createTempDirectory("graft_bucketgen_").toString
    // one CLUSTERED deleted doc (a singleton would leave the label gen
    // legitimately empty and prove nothing about subset writes)
    val one = spark.read.parquet(s"$ccState/labels")
      .join(DedupQueries.ccDeletedIds(graft.sources.Tables.documents(spark, sf))
          .withColumnRenamed("doc_id", "id"),
        Seq("id"), "leftsemi")
      .select(min(col("id")).as("doc_id"))
    DedupQueries.survivorRetractStep(ccState, survState, root, one, 0L)
    def bucketDirs(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("bucket=")).map(_.getName)
    val lb = bucketDirs(s"$root/labels/gen-0")
    assert(lb.nonEmpty && lb.size < 16,
      s"label gen-0 wrote ${lb.size} of 16 buckets — the fold rewrote untouched state")
    val mb = bucketDirs(s"$root/manifest/gen-0")
    assert(mb.nonEmpty && mb.size < 64,
      s"manifest gen-0 wrote ${mb.size} of 64 buckets — the repair rewrote untouched state")
    // every untouched bucket must still resolve to the at-rest state
    val lOwners = BucketedGens.latest(s"$root/labels").get.owners
    assert(lOwners.values.count(_ == BucketedGens.AtRest) == 16 - lb.size -
      lOwners.values.count(_ == BucketedGens.Empty),
      s"untouched label buckets not referenced at rest: $lOwners")
    val mOwners = BucketedGens.latest(s"$root/manifest").get.owners
    assert(mOwners.values.count(_ == BucketedGens.AtRest) >= 64 - mb.size - 4,
      s"untouched manifest buckets not referenced at rest: $mOwners")
    // r17: the delete ledger lands as an O(batch) SEGMENT — exactly one
    // row for the 1-delete batch, never a cumulative-frame rewrite
    assert(graft.queries.SegLedger.rows(s"$root/dels", 1L) == 1L,
      "the dels ledger segment must hold only the batch's own contribution")
  }

  test("as-of snapshot (q157): generation filter prunes partitions at file level") {
    val q = SparkEntry.queries("q157_index_asof_snapshot")(spark, sf)
    // AdaptiveSparkPlanExec is a leaf to collect() — unwrap to its
    // current physical plan before walking for scan nodes
    val phys = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = phys.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("codes_asof")) => f
    }
    assert(scans.nonEmpty, "gen-partitioned delta scan missing from the q157 plan")
    scans.foreach { f =>
      assert(f.partitionFilters.exists(_.toString.contains("gen")),
        s"gen filter not pushed to partition pruning: ${f.partitionFilters}")
      // 4 generations at rest, snapshot serves gen <= 1 → exactly 2 read
      assert(f.relation.location.listFiles(f.partitionFilters, f.dataFilters).size == 2,
        "as-of scan opened generations beyond the snapshot")
    }
  }

  test("corpus planning (q174-q180): bounded ranks, broadcast probes, single scans") {
    // q174: the survivor pick is a hash aggregate, never a per-cluster
    // window sort, and the cluster pair stage is banded (no cross join)
    val survivor = q("q174_dedup_quality_survivor")
    val survivorPlan = survivor.queryExecution.executedPlan.toString
    assert(!survivorPlan.contains("WindowExec"),
      "q174's argmax must stay a sort-free struct agg")
    assert(!survivorPlan.contains("CartesianProduct"))

    // q175: both retrieval arms bound their rank (TakeOrdered feeds the
    // 50-row window — the corpus never crosses a full sort) and the
    // final fusion rank rewrites to bounded top-k
    val rrf = q("q175_hybrid_rrf")
    val rrfPlan = rrf.queryExecution.executedPlan.toString
    assert(rrfPlan.contains("bounded_top_k"), s"fusion rank kept the window plan:\n$rrfPlan")
    assert(rrfPlan.contains("TakeOrderedAndProject"), "arm shortlists must plan bounded")
    assert(!rrfPlan.contains("CartesianProduct"))

    // q176: budgets and the ranked prefix both read the ONE pinned
    // tokenize+score pass — no second documents.parquet scan anywhere
    val mix = q("q176_token_budget_mix")
    val mixPlan = mix.queryExecution.executedPlan.toString
    assert(!mixPlan.contains("documents.parquet"),
      "q176 re-scans documents instead of the checkpointed token pass")
    assert(broadcasts(mix) >= 1) // per-source budgets broadcast back

    // q178: the eval side broadcasts; the corpus crosses only its own
    // verdict aggregate
    val fuzzy = q("q178_fuzzy_decontam")
    assert(broadcasts(fuzzy) >= 1)
    assert(!fuzzy.queryExecution.executedPlan.toString.contains("CartesianProduct"))

    // q179/q184: the only corpus-sized stage is the bounded top-n
    // shortlist, and every MMR selection step joins the selected rows
    // as 1-row broadcasts. Both asserted on PRE-CHECKPOINT frames —
    // Knn.mmr pins the shortlist and every pick, so the executed plan
    // of the query itself is just ExistingRDD scans and would pass any
    // join-strategy assert vacuously (the r14 advice finding).
    import org.apache.spark.sql.functions.{col, lit, round}
    val mmrShort = graft.queries.AnnQueries.mmrShortlist(spark, sf, 8)
    assert(mmrShort.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "shortlist must plan bounded")
    assert(graft.queries.AnnQueries.mmrShortlist(spark, sf, 16)
      .queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "q184's top-16 shortlist must plan bounded")
    // one un-pinned selection step over the un-pinned shortlist: the
    // selected row must enter as a broadcast nested-loop join, never a
    // shuffle join or cartesian product
    val mmrPick = mmrShort
      .withColumn("score", round(lit(0.7) * col("rel"), 6))
      .orderBy(col("score").desc, col("vec_id")).limit(1)
    val mmrStepPlan = graft.ann.Knn.mmrStep(mmrShort, Seq(mmrPick), 0.7)
      .queryExecution.executedPlan.toString
    assert(mmrStepPlan.contains("BroadcastNestedLoopJoin"),
      s"MMR step must broadcast the selected row:\n$mmrStepPlan")
    assert(!mmrStepPlan.contains("CartesianProduct"))
    assert(!mmrStepPlan.contains("SortMergeJoin"))

    // q180: the global rank is PrefixSum's two-phase scan — the only
    // windows run per-bucket and over the bucket subtotals; the corpus
    // itself never funnels through a single-partition ordered window
    // (the SinglePartition exchanges in the plan carry subtotal rows)
    val shards = q("q180_balanced_shards")
    assert(shuffles(shards) <= 4)
    val shardPhys = shards.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val corpusWindows = shardPhys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty &&
            w.child.collect {
              case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => h
            }.isEmpty =>
        w
    }
    assert(corpusWindows.isEmpty,
      "q180 funnels raw corpus rows through an un-partitioned window")

    // q183: the monster source's ranked prefix-sum must run through the
    // PrefixSum two-phase scan — the only un-partitioned windows left
    // sit over AGGREGATED frames (bucket subtotals / per-source
    // budgets), never over raw corpus rows, and the one PARTITION BY
    // source window carries only the non-mega remainder
    val monster = q("q183_monster_source_budget")
    val monsterPhys = monster.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val monsterCorpusWindows = monsterPhys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty &&
            w.child.collect {
              case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => h
            }.isEmpty =>
        w
    }
    assert(monsterCorpusWindows.isEmpty,
      "q183 funnels raw corpus rows through an un-partitioned window")
  }
}
