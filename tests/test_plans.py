"""Physical-plan regression tests: the scale properties the engine is
designed around (scan pruning, filter pushdown, broadcast joins, top-k
without global sort) must stay visible in the executed plan — a silent
plan regression is a 100x cost at 100 TB even when results stay correct.
"""

from __future__ import annotations

import re

import pytest

from wikitrender_spark.plans import registry

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def plans(spark):
    qs = registry.all_queries()

    def plan_of(name: str) -> str:
        return qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()

    return plan_of


def _scan_columns(plan: str, table: str) -> list[list[str]]:
    """Column lists of every FileScan over `table`.parquet in the plan."""
    out = []
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\].*?" + table + r"\.parquet",
                         plan):
        cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
        out.append(cols)
    assert out, f"no FileScan over {table} found"
    return out


def test_pricing_summary_prunes_and_pushes(plans):
    plan = plans("rel_pricing_summary")
    (cols,) = _scan_columns(plan, "lineitem")
    # 6 of 11 lineitem columns; notably no l_orderkey/l_partkey/l_comment
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    assert "l_shipdate" in plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]


def test_text_queries_read_only_needed_columns(plans):
    for q in ("tx_token_stats", "tx_fingerprint"):
        for cols in _scan_columns(plans(q), "documents"):
            assert set(cols) <= {"doc_id", "text"}, (q, cols)


def test_token_hash_projection_prunes_documents_scan(spark):
    """dd_simhash, tx_chunks, and every sketch query now read documents
    through
    doc_token_hashes' localCheckpoint (round 16), which hides the
    FileScan behind a Scan ExistingRDD in the outer plan — so the
    pruned-scan property is asserted on the pre-checkpoint projection,
    the subtree the checkpoint swallows."""
    from wikitrender_spark.operators import dedup as _dedup
    from wikitrender_spark.schemas import load_table

    docs = load_table(spark, SF_DIR, "documents")
    inner = (
        _dedup.token_hash_projection(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in inner  # one narrow per-row pass, no shuffle
    for cols in _scan_columns(inner, "documents"):
        assert set(cols) <= {"doc_id", "text"}


def test_events_scan_prunes_props(plans):
    # the rc derivation never reads the wide 'props' payload column
    for cols in _scan_columns(plans("wt_page_state"), "events"):
        assert "props" not in cols


def test_top_customers_broadcasts_dims_and_takes_ordered(plans):
    plan = plans("rel_top_customers")
    assert "TakeOrderedAndProject(limit=10" in plan
    assert "BroadcastHashJoin" in plan


def test_topk_queries_avoid_global_sort(plans):
    for q, k in (("wt_most_edited", 5), ("wt_biggest_movers", 5),
                 ("wt_most_vibrant", 5)):
        assert f"TakeOrderedAndProject(limit={k}" in plans(q), q


def test_ann_broadcasts_query_side(plans):
    plan = plans("ann_bruteforce_topk")
    assert "BroadcastNestedLoopJoin BuildLeft" in plan
    # query-side scan pushes the id filter down
    assert re.search(r"vec_id#\d+L IN \(0,1,2,3,4\)", plan)


def test_near_dup_has_no_cartesian(plans):
    # candidate generation must be an equi-join on band keys, never a
    # cartesian product of the corpus with itself
    plan = plans("dd_near_duplicates")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_new_text_queries_prune_documents_scan(plans):
    for q, allowed in (
        ("tx_repetition", {"doc_id", "text"}),
        ("tx_vocab", {"text"}),
        ("tx_pack", {"doc_id", "text", "lang", "source"}),
        ("dd_decontaminate", {"doc_id", "text"}),
    ):
        for cols in _scan_columns(plans(q), "documents"):
            assert set(cols) <= allowed, (q, cols)


def test_recursive_and_lateral_scans_prune(plans):
    for cols in _scan_columns(plans("rel_recursive_months"), "orders"):
        assert set(cols) <= {"o_orderkey", "o_orderdate", "o_totalprice"}
    for cols in _scan_columns(plans("rel_lateral_topk"), "customer"):
        assert set(cols) <= {"c_custkey", "c_nationkey", "c_acctbal"}


def test_corpus_stats_queries_prune_and_broadcast(plans):
    """tx_rarity / tx_tfidf_terms: the corpus scan reads only (doc_id,
    text) and the tiny vocabulary relation comes back via an explicit
    broadcast hash join, never a shuffle of the occurrence stream."""
    for q in ("tx_rarity", "tx_tfidf_terms"):
        plan = plans(q)
        for cols in _scan_columns(plan, "documents"):
            assert set(cols) <= {"doc_id", "text"}, (q, cols)
        assert "BroadcastHashJoin" in plan, q


def test_boilerplate_inverted_index_no_pairwise_join(plans):
    """tx_boilerplate must stay an inverted-index aggregation: no
    cartesian/nested-loop pair join anywhere, documents scan pruned."""
    plan = plans("tx_boilerplate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}


def test_semantic_dedup_and_kmeans_scan_embeddings_bounded(plans):
    """The localCheckpoint'd IVF assignment must keep the embeddings
    parquet scan count at <= 2 (centroids + assignment) even though the
    relation feeds 2-3 consumers — a regression here re-derives the
    whole assignment subtree per consumer."""
    for q in ("dd_semantic_dedup", "ann_kmeans_refine"):
        n = plans(q).count("embeddings.parquet")
        assert n <= 2, (q, n)


def test_substring_runs_inverted_index_no_pairwise_join(plans):
    """dd_substring_runs must stay an inverted index on the run hash —
    no cartesian/nested-loop join, documents scan pruned to the token
    columns."""
    plan = plans("dd_substring_runs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}


def test_sq_topk_broadcasts_codes_and_prunes(plans):
    """ann_sq_topk: the quantizer stats row and the query-code side are
    broadcast (corpus codes never shuffle for scoring); embeddings scan
    reads only (vec_id, embedding)."""
    plan = plans("ann_sq_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for cols in _scan_columns(plan, "embeddings"):
        assert set(cols) <= {"vec_id", "embedding"}


def test_window_rank_suite_single_exchange(plans):
    """rel_window_rank_suite is one shuffle on the partition key + one
    sort — any join or second exchange is a regression."""
    plan = plans("rel_window_rank_suite")
    assert plan.count("Exchange") <= 2  # hashpartitioning (+AQE reads)
    assert "Join" not in plan


def test_interval_coverage_has_no_range_join(plans):
    """rel_interval_coverage re-expresses the range join as explode-to-
    bins: exactly one equi-join (orderkey), no nested-loop/cartesian."""
    plan = plans("rel_interval_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_event_funnel_joins_are_keyed(plans):
    """rel_event_funnel: every stage join must carry the user equi-key
    (SortMergeJoin/shuffled hash on user — never a pure theta join over
    all events); events scan prunes props/value."""
    plan = plans("rel_event_funnel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for cols in _scan_columns(plan, "events"):
        assert set(cols) <= {"user_id", "event_type", "ts"}


def test_pq_topk_scans_bounded_and_broadcast(plans):
    """ann_pq_topk: the checkpointed codebook halves the embeddings
    scans — encode + query-table + the two rescoring sides (<= 4);
    the codebook/table joins are broadcast."""
    plan = plans("ann_pq_topk")
    n = plan.count("embeddings.parquet")
    assert n <= 4, n
    assert "Broadcast" in plan
    for cols in _scan_columns(plan, "embeddings"):
        assert set(cols) <= {"vec_id", "embedding", "label"}


def test_salted_revenue_sorts_on_salted_key(plans):
    """rel_salted_revenue must exercise the salted SortMergeJoin (the
    merge hint pins it) — a broadcast of the replicated orders side
    would mean the salt pattern was silently optimized away."""
    plan = plans("rel_salted_revenue")
    assert "SortMergeJoin" in plan
    assert "_salt" in plan


def test_hourly_anomalies_broadcasts_stats(plans):
    """rel_hourly_anomalies: the 5-row per-type stats relation comes
    back via broadcast; events scan prunes to (event_type, ts)."""
    plan = plans("rel_hourly_anomalies")
    assert "BroadcastHashJoin" in plan
    for cols in _scan_columns(plan, "events"):
        assert set(cols) <= {"event_type", "ts"}


def test_ivfpq_scans_bounded_and_broadcast(plans):
    """ann_ivfpq_topk: the one-pass (assign + encode) index plus probe/
    table/rescore sides keep embeddings scans <= 5; probe and table
    joins are broadcast."""
    plan = plans("ann_ivfpq_topk")
    n = plan.count("embeddings.parquet")
    assert n <= 5, n
    assert "Broadcast" in plan
    for cols in _scan_columns(plan, "embeddings"):
        assert set(cols) <= {"vec_id", "embedding", "label"}


def test_hourly_ewma_single_pass(plans):
    """rel_hourly_ewma: no join anywhere (the fold is in-row over the
    per-type array); events scan prunes to (event_type, ts)."""
    plan = plans("rel_hourly_ewma")
    assert "Join" not in plan
    for cols in _scan_columns(plan, "events"):
        assert set(cols) <= {"event_type", "ts"}


def test_value_pareto_and_jaccard_histogram_shapes(plans):
    """rel_value_pareto: single global window, no join; events scan
    prunes to (user_id, event_type, value). dd_jaccard_histogram: no
    cartesian (candidate-only verification)."""
    plan = plans("rel_value_pareto")
    assert "Join" not in plan
    for cols in _scan_columns(plan, "events"):
        assert set(cols) <= {"user_id", "event_type", "value"}
    plan = plans("dd_jaccard_histogram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_scrub_no_pairwise_join(plans):
    """tx_substring_scrub: same inverted-index shape as the stats op —
    no cartesian/nested-loop join; documents scan pruned."""
    plan = plans("tx_substring_scrub")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}


def test_bloom_decontaminate_broadcasts_bitset(plans):
    """dd_bloom_decontaminate: the (row, bit) filter relation and the
    exact eval set are broadcast; the corpus side never cartesians, and
    the documents scan prunes to (doc_id, text)."""
    plan = plans("dd_bloom_decontaminate")
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}


def test_cms_terms_sketch_shapes(plans):
    """tx_cms_terms: the sketch aggregation partial-aggregates map-side
    (HashAggregate below the exchange), the top-k is
    TakeOrderedAndProject (no global sort), the cells relation joins
    broadcast, and no cartesian appears."""
    plan = plans("tx_cms_terms")
    assert "TakeOrderedAndProject" in plan
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}


def test_ivfpq_rerank_same_bounded_shape(plans):
    """ann_ivfpq_rerank: the shortlist re-rank adds one window pass, not
    extra corpus scans — same scan bound and broadcast shape as the
    plain ivfpq query."""
    plan = plans("ann_ivfpq_rerank")
    assert plan.count("embeddings.parquet") <= 5
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_epm_variants_and_safe_list_shapes(plans):
    """wt_epm_variants: one events scan chain, no extra joins beyond the
    page_state aggregation's own; wt_purge_safe_list: the control
    relation joins broadcast (human-scale side)."""
    plan = plans("wt_epm_variants")
    for cols in _scan_columns(plan, "events"):
        assert "props" not in cols
    plan = plans("wt_purge_safe_list")
    assert "Broadcast" in plan


def test_bm25_qterm_cut_is_take_ordered(plans):
    """tx_bm25_topk (r06 verdict fix): the query-term selection must cut
    the O(vocab) df relation with orderBy().limit() — visible as a
    SECOND TakeOrderedAndProject beside the final top-K — never a
    vocab-wide single-partition row_number window. The only windows left
    operate on <= 4-row / <= 20-row limited relations."""
    plan = plans("tx_bm25_topk")
    assert len(re.findall(r"TakeOrderedAndProject", plan)) >= 2, plan


def test_text_vocab_joins_carry_no_forced_broadcast(spark):
    """tx_collocations / tx_tfidf_terms (r06 verdict fix): the unigram /
    df vocabulary relations are unbounded at corpus scale, so the joins
    must carry NO broadcast hint — AQE picks broadcast only when the
    measured size is small. Pinned at the analyzed-logical level (the
    executed plan can't distinguish a hint from an AQE decision). The
    only hints allowed are the single-row scalar relations."""
    qs = registry.all_queries()
    for name, max_hints in (("tx_collocations", 1), ("tx_tfidf_terms", 1),
                            ("tx_bm25_topk", 2)):
        logical = (
            qs[name](spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
        )
        n = len(re.findall(r"ResolvedHint", logical))
        assert n <= max_hints, (name, n, logical)


def test_novelty_and_cross_source_shapes(plans, spark):
    """tx_novelty must stay an inverted-index aggregation (no pairwise
    join) with a pruned documents scan; dd_cross_source_dups must add no
    cartesian on top of the bucketed near-dup relation and carry no
    forced broadcast of the corpus-sized (doc_id, source) projection.

    The outer plans hide the tokenize/shingle subtree behind the
    inverted index's localCheckpoint (Scan ExistingRDD), so the pruned-
    scan and no-pairwise claims are ALSO asserted on the pre-checkpoint
    doc_shingles relation itself — the subtree the checkpoint swallows."""
    from wikitrender_spark.operators import dedup as _dedup
    from wikitrender_spark.schemas import load_table

    docs = load_table(spark, SF_DIR, "documents")
    # round 16: doc_shingles reads through doc_token_hashes'
    # localCheckpoint, so the documents FileScan lives in the
    # pre-checkpoint projection — assert the pruning there (the shingle
    # derivation itself is pure array arithmetic over that relation)
    inner = (
        _dedup.token_hash_projection(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in inner
    assert "BroadcastNestedLoopJoin" not in inner
    for cols in _scan_columns(inner, "documents"):
        assert set(cols) <= {"doc_id", "text"}

    plan = plans("tx_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}

    plan = plans("dd_cross_source_dups")
    assert "CartesianProduct" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text", "source"}


def test_rp_topk_projection_stays_codegen(spark):
    """ann_rp_topk's real plan properties, pinned individually: (a) the
    JL projection is the UNROLLED codegen expression — hundreds of
    element_at terms in the plan, NOT a transform(...) HOF lambda over
    the embedding array; (b) the query side of the ranking scan is the
    broadcast build side with its vec_id IN-filter pushed to the scan;
    (c) embeddings parquet scan count stays bounded."""
    from wikitrender_spark.plans import registry

    qs = registry.all_queries()
    plan = (
        qs["ann_rp_topk"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # (a) unrolled projection: 16 projections x 64 element_at terms per
    # side; a regression to an interpreted HOF would collapse these to a
    # single transform(...) lambda
    assert plan.count("element_at") >= 512, plan.count("element_at")
    # (b) query side broadcast + pushed id filter
    assert "BuildLeft" in plan or "BuildRight" in plan
    assert re.search(r"PushedFilters: \[.*In\(vec_id", plan), "no pushed IN filter"
    # (c) bounded scan count (projection + rescore sides)
    n_scans = len(_scan_columns(plan, "embeddings"))
    assert n_scans <= 4, n_scans


def test_lsh_tuning_shares_one_tokenization(plans):
    """dd_lsh_tuning sweeps three banding configs but must tokenize the
    corpus ONCE (the shared dth checkpoint): bounded documents scans,
    no cartesian/nested-loop pair join anywhere."""
    plan = plans("dd_lsh_tuning")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the 1-row x 1-row scalar
    # crossJoins stitching (n_candidates, n_verified) per config
    n_bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
    from wikitrender_spark.operators import dedup as _dedup
    assert n_bnlj <= len(_dedup.LSH_TUNING_CONFIGS), n_bnlj
    n_scans = len(re.findall(r"FileScan parquet .*documents\.parquet", plan))
    assert n_scans <= 2, n_scans


def test_markov_and_pagerank_cut_without_global_sort(plans):
    """wt_markov_transitions / wt_pagerank: the top-k cut must compile
    to TakeOrderedAndProject (per-partition heaps + k-row driver merge),
    never a global sort — the tx_bm25_topk lesson applied to the graph
    queries."""
    plan = plans("wt_markov_transitions")
    assert "TakeOrderedAndProject(limit=25" in plan
    # round 16: out_w is a window sum partitioned by src (guide §2.4 —
    # one exchange replaces the old groupBy+self-join), so markov needs
    # no checkpoint and no join at all; the whole pipeline including
    # the per-user lag window is visible in ONE plan
    assert "Window" in plan
    assert not re.search(r"Join", plan), "markov must not join"
    plan2 = plans("wt_pagerank")
    assert "TakeOrderedAndProject(limit=20" in plan2


def test_transition_graph_pre_checkpoint_shape(spark):
    """pagerank's localCheckpoints hide the iteration subtrees behind
    Scan ExistingRDD in the final plan (the r07 vacuous-plan-test
    lesson), so assert the scale properties on the PRE-checkpoint
    transition relation: per-user lag window, (src, dst) hash
    aggregation, and an events scan that never reads `props`."""
    from wikitrender_spark.operators import graph
    from wikitrender_spark.operators.derive import rc_events
    from wikitrender_spark.operators.page_state import classified_edit_events

    ev = classified_edit_events(rc_events(spark, SF_DIR))
    plan = (
        graph.edit_transitions(ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "windowspecdefinition(user#" in plan
    assert "HashAggregate" in plan
    for cols in _scan_columns(plan, "events"):
        assert "props" not in cols


def test_hourly_autocorr_window_above_aggregation_no_join(plans):
    """rel_hourly_autocorr: events scan prunes to (event_type, ts); the
    lag window partitions by event_type and runs over the POST-
    aggregation hourly relation (bounded by the time range); the whole
    query is join-free (explode + window + one re-aggregation)."""
    plan = plans("rel_hourly_autocorr")
    for cols in _scan_columns(plan, "events"):
        assert set(cols) <= {"event_type", "ts"}
    assert "windowspecdefinition(event_type#" in plan
    assert "Join" not in plan


def test_stratified_sample_keeps_two_phase_salted_windows(plans):
    """tx_stratified_sample: the exact top-K per stratum must stay the
    TWO-phase salted cut — phase 1 ranks inside (lang, source, cell)
    salt cells, phase 2 re-ranks only the <= K*SAMPLE_CELLS survivors
    per (lang, source). A future edit that collapses it back to one
    stratum-wide window would funnel each stratum's full partition
    through one task (the tx_bm25_topk failure mode) while staying
    value-identical, so only a plan pin catches it."""
    plan = plans("tx_stratified_sample")
    assert re.search(
        r"windowspecdefinition\(lang#\d+, source#\d+, cell#", plan
    ), "phase-1 salt-cell window missing"
    assert re.search(
        r"windowspecdefinition\(lang#\d+, source#\d+, h#", plan
    ), "phase-2 per-stratum window missing"


def test_source_divergence_two_phase_cut_and_no_vocab_broadcast(plans):
    """tx_source_divergence: the per-source top-K must stay the
    two-phase salted cut (sources are FEW — a single per-source window
    funnels the whole vocabulary through one task), and the vocab-sized
    term-totals join must carry no forced broadcast (the
    tx_collocations lesson). The totals/scoring subtree sits behind a
    localCheckpoint, so the windows are what the final plan shows."""
    plan = plans("tx_source_divergence")
    assert re.search(r"windowspecdefinition\(source#\d+, cell#", plan), \
        "phase-1 salt-cell window missing"
    # phase-2 window partitions by source alone (ordered by score)
    assert re.search(r"windowspecdefinition\(source#\d+, score#", plan), \
        "phase-2 per-source window missing"


def test_coedit_triangles_closure_is_equi_join(plans):
    """wt_coedit_triangles: the wedge and closure joins must stay keyed
    equi-joins (the closure's least/greatest endpoints are derived join
    KEYS) — a cartesian or nested-loop here is the all-pairs shape the
    degree-ordered enumeration exists to avoid."""
    plan = plans("wt_coedit_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_single_char_fold_and_pruned_scan(plans):
    """tx_winnowing's token-hash char fold must appear EXACTLY once in
    the plan: shingle_hashes(text) used to inline the whole fold into
    each of its three element_at sites, and HOF lambdas run interpreted
    with no subexpression elimination — O(tokens^2 * chars) per doc,
    measured 30 s for the shingle column alone at 50k docs vs ~3 s via
    the materialized two-step form. The `ascii(...)` call inside the
    fold is the fold's unique plan fingerprint."""
    plan = plans("tx_winnowing")
    assert plan.count("ascii") == 1, "char fold duplicated — inlining is back"
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}


def test_cdc_chunks_single_char_fold(plans):
    """Same inlining hazard for dd_cdc_chunks' token-hash array — and
    the chunk relation must stay checkpointed at its multi-consumer
    barrier (dup agg + join side; their exchanges differ so
    ReuseExchange cannot dedupe the corpus fold): at most one visible
    fold, with the shared lineage behind an RDD scan."""
    plan = plans("dd_cdc_chunks")
    assert plan.count("ascii") <= 1, "char fold duplicated across branches"
    assert "ExistingRDD" in plan, "chunk relation no longer checkpointed"


def test_simhash_pairs_no_allpairs_join(plans):
    """dd_simhash_pairs' candidate generation must stay a block-key
    equi-join (bounded by block-bucket populations) — never a cartesian
    or nested-loop all-pairs form."""
    plan = plans("dd_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_asof_has_no_range_join(plans):
    """rel_scd2_intervals' point-in-time attribution is the union +
    running-last window — a range join here would plan as
    BroadcastNestedLoopJoin and explode at scale. Scans must not read
    the unused value column."""
    plan = plans("rel_scd2_intervals")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for cols in _scan_columns(plan, "events"):
        assert "value" not in cols


def test_audience_overlap_distinct_before_selfjoin(plans):
    """rel_audience_overlap must aggregate (type, user) DISTINCT before
    the intersection self-join (the fanout bound) and never read the
    events payload columns."""
    plan = plans("rel_audience_overlap")
    assert "CartesianProduct" not in plan
    for cols in _scan_columns(plan, "events"):
        assert set(cols) <= {"event_type", "user_id"}


def test_image_neardup_no_allpairs_one_decode(plans):
    """mm_image_neardup's candidate generation must stay a block-key
    equi-join, and the decode mapInPandas must sit behind the
    3-consumer localCheckpoint barrier (block explode + both verify
    sides) so pixels decode ONCE: consumers read ExistingRDD and no
    MapInPandas stage appears in the executed plan."""
    plan = plans("mm_image_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "dhash relation no longer checkpointed"
    assert "MapInPandas" not in plan, "decode re-runs outside the barrier"


def test_image_neardup_content_no_allpairs_one_decode(plans):
    """mm_image_neardup_content (round 12) keeps the plain variant's
    scale contract: the crop happens INSIDE the single decode->hash
    mapInPandas stage, so the plan is identical in shape — block-key
    equi-join candidates only, decode behind the localCheckpoint
    barrier (consumers read ExistingRDD, no MapInPandas re-run)."""
    plan = plans("mm_image_neardup_content")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "dhash relation no longer checkpointed"
    assert "MapInPandas" not in plan, "decode re-runs outside the barrier"


def test_audio_neardup_no_allpairs_one_decode(plans):
    """mm_audio_neardup rides the same machinery as the image path
    (shared dhash_hamming_pairs): block-key equi-join candidates only,
    and the WAV encode + decode + envelope-hash mapInPandas stages sit
    behind the localCheckpoint barrier so samples decode ONCE."""
    plan = plans("mm_audio_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "envelope relation no longer checkpointed"
    assert "MapInPandas" not in plan, "decode re-runs outside the barrier"


def test_video_neardup_no_allpairs_one_decode(plans):
    """mm_video_neardup (round 13) completes the modality square on
    the same machinery: block-key equi-join candidates only, and the
    Y4M encode + decode + projection-hash mapInPandas stages sit
    behind the localCheckpoint barrier so frames decode ONCE."""
    plan = plans("mm_video_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "projection relation no longer checkpointed"
    assert "MapInPandas" not in plan, "decode re-runs outside the barrier"


def test_pii_scrub_zero_shuffle_pruned_scan(plans):
    """tx_pii_scrub is a map-only pass: plant + count + replace in one
    codegen span — the only exchange allowed is load_table's deliberate
    round-robin input spreading; scan reads only (doc_id, text)."""
    plan = plans("tx_pii_scrub")
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") == plan.count(
        "Exchange RoundRobinPartitioning"
    ) == 1
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}


def test_ngram_nll_checkpointed_no_cartesian_pruned(plans):
    """tx_ngram_nll (round 12) rides the DSIR-log discipline: the
    per-doc score relation is checkpointed at its 2-consumer barrier
    (corpus totals + output rows both read ExistingRDD — the model
    build never runs twice), the only cross join is the 1-row scalar
    broadcast (never CartesianProduct), visible documents scans read
    only (doc_id, text), and the portable-ln polynomial never expands
    inside a per-row fold (pln runs on model rows only; the per-doc
    fold sums precomputed doubles)."""
    plan = plans("tx_ngram_nll")
    assert "ExistingRDD" in plan, "score relation no longer checkpointed"
    assert "CartesianProduct" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "text"}
    for line in plan.splitlines():
        if "aggregate(" in line and "bin(" in line:
            raise AssertionError(
                "portable-ln expanded inside a per-row fold:\n" + line
            )


def test_dsir_weights_bounded_aggs_and_pruned_scan(plans):
    """tx_dsir_weights' bucket relation must stay checkpointed at its
    2-consumer barrier (vocab broadcast + corpus totals both read
    ExistingRDD — S_t/S_r must never trigger a second corpus pass), the
    vocab must come back as a broadcast hash join, and the documents
    scans read only (doc_id, lang, text)."""
    plan = plans("tx_dsir_weights")
    assert "ExistingRDD" in plan, "bucket relation no longer checkpointed"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "lang", "text"}


def test_dsir_log_bounded_aggs_and_pruned_scan(plans):
    """tx_dsir_log (the log-space production form) keeps the linear
    form's shape: bucket relation checkpointed at its barrier (vocab,
    g-fold, and totals all read ExistingRDD — never a second corpus
    pass), vocab comes back as a broadcast hash join, the 1-row scalar
    relation rides a broadcast (never CartesianProduct), and the
    documents scans read only (doc_id, lang, text). The portable-ln
    polynomial must run on the tiny relations only: no `bin(` inside
    any per-document HOF (the pln expression is ~80x self-inlining;
    on the occurrence stream it would be the winnowing O(n^2) lesson
    all over again)."""
    plan = plans("tx_dsir_log")
    assert "ExistingRDD" in plan, "bucket relation no longer checkpointed"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for cols in _scan_columns(plan, "documents"):
        assert set(cols) <= {"doc_id", "lang", "text"}
    # pln runs only where aggregate() folds the tiny sorted arrays: the
    # per-doc fold sums PREcomputed doubles, it never re-derives a log
    for line in plan.splitlines():
        if "aggregate(" in line and "bin(" in line:
            raise AssertionError(
                "portable-ln expanded inside a per-row fold:\n" + line
            )


def test_ngram_ppl_buckets_scores_once_behind_checkpoint(plans):
    """Round 15 (the declared r14 opener, VERDICT r14 next-round #2):
    tx_ngram_ppl_buckets' final plan must read the 3-column scored
    relation from its localCheckpoint — both union branches (rated
    ntile + shorts) scan ExistingRDD, and NO documents FileScan
    remains, so the model join + per-doc sorted folds cannot run per
    branch again (the pre-fix plan re-evaluated the whole scoring
    subplan in each branch; the approx form had the identical defect
    until the r14 self-review)."""
    plan = plans("tx_ngram_ppl_buckets")
    assert "ExistingRDD" in plan, "scored relation no longer checkpointed"
    assert "documents.parquet" not in plan, (
        "a documents scan above the checkpoint means a union branch "
        "re-evaluates the scoring subplan"
    )


def test_ngram_ppl_approx_classes_scores_once_behind_checkpoint(plans):
    """The gated class projection (round 15) inherits the approx
    bucketer's checkpoint barrier: its executed plan reads only
    ExistingRDD — the sketch action, the rated bucketer branch, and
    the shorts branch all consume the ONE materialized scored
    relation, never a fresh documents scan."""
    plan = plans("tx_ngram_ppl_approx_classes")
    assert "ExistingRDD" in plan, "scored relation no longer checkpointed"
    assert "documents.parquet" not in plan


def test_classifier_sql_literals_are_escaped(spark, monkeypatch):
    """Classifier keywords and bot names holding a quote and a backslash
    match as written: the Spark Columns and the DuckDB oracle's escaped
    literals equal Python's ``in`` / equality on the same rows."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from wikitrender_spark.functions import classify
    from wikitrender_spark.plans import sqlgen

    monkeypatch.setattr(classify, "REVERT_KEYWORDS", ("it's", "a\\b", "wp:"))
    monkeypatch.setattr(classify, "KNOWN_BOTS", ("O'Bot \\1",))
    rows = pd.DataFrame({
        "i": range(7),
        "comment": ["It's here", "its here", "x A\\B y", "a\\\\b", "ab",
                    "see WP:NPOV", "x'y\\z"],
        "user": ["O'Bot \\1", "OBot \\1", "O'Bot 1", "o'bot \\1", "x", "", "'"],
    })
    exp_revert = [any(k in c.lower() for k in classify.REVERT_KEYWORDS)
                  for c in rows["comment"]]
    exp_bot = [u in classify.KNOWN_BOTS for u in rows["user"]]
    assert any(exp_revert) and not all(exp_revert) and any(exp_bot)

    df = spark.createDataFrame(rows).withColumn("bot", F.lit(None).cast("boolean"))
    got = df.orderBy("i").select(
        classify.is_revert(F.col("comment")).alias("r"),
        classify.is_bot_edit(F.col("bot"), F.col("user")).alias("b"),
    ).collect()
    assert [r["r"] for r in got] == exp_revert
    assert [r["b"] for r in got] == exp_bot

    con = duckdb.connect()
    con.register("t", rows)
    duck = con.sql(
        f"SELECT {sqlgen.is_revert_sql()} AS r, "
        f"{sqlgen.is_bot_sql('CAST(NULL AS BOOLEAN)')} AS b FROM t ORDER BY i"
    ).fetchall()
    assert [r for r, _ in duck] == exp_revert
    assert [b for _, b in duck] == exp_bot


def test_classifier_projections_ignore_escaped_string_literals(spark):
    """The classifier projections build their regex and keyword literals
    as Columns, which never pass the SQL parser: with
    spark.sql.parser.escapedStringLiterals set either way, the edit, log
    and fold projections return the same rows."""
    from pyspark.sql import functions as F

    from wikitrender_spark.operators.derive import rc_events
    from wikitrender_spark.operators.lifecycle import fold_events, log_events
    from wikitrender_spark.operators.page_state import classified_edit_events

    key = "spark.sql.parser.escapedStringLiterals"
    builds = (classified_edit_events, log_events,
              lambda df: fold_events(df, F.lit("g")))
    rc = rc_events(spark, SF_DIR.replace("sf0.01", "sf0.001"))
    prev = spark.conf.get(key)
    rows = {}
    try:
        for conf in ("false", "true"):
            spark.conf.set(key, conf)
            rows[conf] = [sorted(b(rc).collect(), key=repr) for b in builds]
    finally:
        spark.conf.set(key, prev)
    assert all(rows["false"]), "a projection returned no rows"
    assert rows["true"] == rows["false"]


def test_projection_builders_are_memoized(spark):
    """The classifier select lists are built once per SparkContext:
    building wt_page_state and wt_page_state_lifecycle a second time
    reuses them (cache hits, no new misses). A per-build rebuild of the
    Columns costs about 0.2 s of Python CPU each."""
    from wikitrender_spark.operators import lifecycle, page_state

    qs = registry.all_queries()
    builders = (page_state._classified_select, lifecycle._log_select)

    def build_both():
        for name in ("wt_page_state", "wt_page_state_lifecycle"):
            qs[name](spark, SF_DIR)

    build_both()
    before = [b.cache_info() for b in builders]
    build_both()
    after = [b.cache_info() for b in builders]
    for b, a in zip(before, after):
        assert a.hits > b.hits and a.misses == b.misses, (b, a)
