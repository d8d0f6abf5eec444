"""Physical-plan regression tests: the plan-shape claims in
BENCH/PLANS.md, asserted against the actual executed plans so a future
change cannot silently reintroduce a shuffle/scan anti-pattern."""

import pytest

from igtdetect_spark.flagship import get_synthetic_model

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return str(df._jdf.queryExecution().executedPlan())


def _n_planner_shuffles(plan: str) -> int:
    """Count planner-inserted hash exchanges (ENSURE_REQUIREMENTS),
    excluding the explicit spread repartition (REPARTITION_BY_NUM) —
    the round-6 small-scan spread is an id-hash exchange, and the
    structural shuffle-shape assertions are about the QUERY's keyed
    exchanges, not the scan spread."""
    return sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and "REPARTITION_BY_NUM" not in line
    )


@pytest.fixture(scope="module")
def ctx(spark, lexicons):
    from igtdetect_spark.plans.pipeline import DetectContext

    return DetectContext(spark, get_synthetic_model(), lexicons)


def test_fused_detect_plan_has_zero_exchanges(spark, ctx):
    """Flagship plan, for both sinks (spans and classified lines):
    Scan → Project → one MapInPandas, no shuffle."""
    from igtdetect_spark.plans.pipeline import (
        classify_lines_fused,
        detect_spans_fused,
    )
    from igtdetect_spark.sources.pages import pages_from_documents

    for sink in (detect_spans_fused, classify_lines_fused):
        plan = _plan(sink(pages_from_documents(spark, SF_DIR), ctx))
        assert "Exchange" not in plan, sink.__name__
        assert plan.count("MapInPandas") == 1, sink.__name__


from contextlib import contextmanager


@contextmanager
def _no_spread(spark):
    """Pin the cluster-scale plan shape: disable the small-scan
    hash spread (``spread_small_scan``), which fires only on
    tiny (single-row-group) bench inputs and is a no-op past 64 MB —
    the zero-exchange contracts below are 100 TB claims."""
    spark.conf.set("igtdetect.spreadSmallScanBytes", "0")
    try:
        yield
    finally:
        spark.conf.unset("igtdetect.spreadSmallScanBytes")


def test_minhash_signature_plan_has_zero_exchanges(spark):
    """The whole minhash signature stage is narrow — no explode×perms
    blowup, no groupBy shuffle, and (since round 6) exactly ONE
    vectorized Python stage: the shingle→hash→band Arrow kernel
    (never a row-pickling BatchEvalPython; the interpreted
    17-higher-order-transform chain it replaced measured 8 s at
    sf1.0)."""
    from igtdetect_spark.operators.dedup import minhash_band_hashes

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with _no_spread(spark):
        plan = _plan(minhash_band_hashes(docs))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan
    # at bench scale the spread DOES fire: ONE hash exchange on the
    # leading id column (round-6 session 2: round-robin's
    # sort-before-repartition ran on the single starved input task —
    # pure overhead; the id-hash exchange is value-deterministic with
    # no sort), and never a range repartition or a second exchange
    plan = _plan(minhash_band_hashes(docs))
    assert plan.lower().count("exchange hashpartitioning(doc_id") == 1, plan
    assert "roundrobin" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_simhash_plan_has_zero_exchanges(spark):
    from igtdetect_spark.operators.dedup import simhash_docs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with _no_spread(spark):
        plan = _plan(simhash_docs(docs))
    assert "Exchange" not in plan


def test_revenue_topk_plan_broadcasts_and_bounds_the_sort(spark):
    """Q3 shape: pushed scan filters, broadcast joins for the dims,
    map-side partial aggregation, and top-k via TakeOrderedAndProject
    (never a global sort)."""
    from igtdetect_spark.entry_queries import q_revenue_topk

    plan = _plan(q_revenue_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [" in plan
    assert "SortMergeJoin" not in plan
    # partial agg before the exchange (map-side combine)
    assert "partial_" in plan or "HashAggregate" in plan


def test_ngram_jaccard_plan_has_no_cartesian(spark):
    from igtdetect_spark.operators.dedup import (
        ngram_jaccard_pairs,
        release_plan_caches,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = ngram_jaccard_pairs(docs, max_df=10)
    plan = _plan(df)
    release_plan_caches(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_corpus_side_is_narrow(spark, no_spread):
    """Exact ANN: the only join is against the broadcast 5-row query
    side; the corpus side must not shuffle before scoring (the one
    Exchange allowed is the per-query top-k window partitioning)."""
    from igtdetect_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(cosine_topk(emb, [0, 1, 2], k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_ivf_plan_has_no_distinct_exchange(spark, no_spread):
    """(query, neighbor) pairs are unique by construction — the plan must
    not contain a distinct aggregate between scoring and the window."""
    from igtdetect_spark.operators.similarity import ivf_ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(ivf_ann(emb, [0, 1], k=3, n_lists=4, n_probe=2))
    # a distinct would show as an extra HashAggregate over the pair keys
    assert plan.count("Exchange hashpartitioning") <= 1


def test_flagship_scan_prunes_unused_columns(spark, ctx):
    """Column pruning reaches the parquet scan: classify over the pages
    view must not read the documents blob columns it doesn't use."""
    from igtdetect_spark.plans.pipeline import detect_spans_fused
    from igtdetect_spark.sources.pages import pages_from_documents

    plan = _plan(detect_spans_fused(pages_from_documents(spark, SF_DIR), ctx))
    assert "n_chars" not in plan.split("ReadSchema")[-1]


def test_asof_join_plan_is_one_shuffle_no_join(spark):
    """The union-window as-of plan: ONE hash exchange on the key, a
    window, and NO join operator at all (the naive form would be a
    range join whose per-key cross product explodes)."""
    from igtdetect_spark.entry_queries import q_asof_join

    plan = _plan(q_asof_join(spark, SF_DIR))
    assert "Join" not in plan, plan
    # key exchange for the window + the events-dedup window share the
    # same (user_id)-prefixed partitioning; allow the dedup's own
    # exchange but nothing beyond.
    assert _n_planner_shuffles(plan) <= 2


def test_simhash_neardup_plan_is_bucketed_not_allpairs(spark):
    """Banded hamming join: equi-join on (band, band_val) — never a
    cartesian/nested-loop over the corpus."""
    from igtdetect_spark.entry_queries import q_simhash_neardup

    plan = _plan(q_simhash_neardup(spark, SF_DIR))
    assert "Cartesian" not in plan
    assert "NestedLoop" not in plan


def test_stratified_sample_salted_has_bounded_windows(spark):
    """Two-phase salted top-N: the per-salt local window prunes to
    ≤ N rows per (group, salt) BEFORE the global window — both windows
    present, no extra exchanges beyond their two partitionings."""
    from igtdetect_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(stratified_sample(docs, n_per_group=10, salt_parts=8))
    assert plan.count("Window") >= 2
    assert _n_planner_shuffles(plan) <= 2


def test_hopping_counts_plan_is_expand_plus_bounded_exchanges(spark):
    """Sliding windows come from ONE Expand (2 rows/event), then the
    count-distinct rewrite's two hash exchanges — never a join against
    a generated window relation."""
    from igtdetect_spark.entry_queries import q_hopping_counts

    plan = _plan(q_hopping_counts(spark, SF_DIR))
    assert plan.count("Expand") == 1
    assert "Join" not in plan
    assert _n_planner_shuffles(plan) <= 2


def test_tfidf_plan_broadcasts_df_and_never_sortmerges(spark):
    """The document-frequency relation and the 1-row distinct-source
    scalar both reach tf as broadcasts; a SortMergeJoin here would mean
    the tiny side was shuffled with the big one."""
    from igtdetect_spark.entry_queries import q_tfidf_top_terms

    plan = _plan(q_tfidf_top_terms(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" in plan   # the 1-row scalar
    assert "SortMergeJoin" not in plan


def test_term_stats_joins_fall_back_to_shuffle_above_bound(spark):
    """The vocabulary-sized relations in tf·idf and unigram familiarity
    must NOT be unconditionally broadcast: with the size bound forced
    to 0 (simulating a 100 TB corpus where Heaps' law breaks the
    broadcast bound) both queries plan a plain shuffle join on term —
    never a cartesian, never a broadcast of the vocabulary."""
    from igtdetect_spark.entry_queries import (
        q_tfidf_top_terms,
        q_unigram_familiarity,
    )

    spark.conf.set("igtdetect.broadcastBoundBytes", "0")
    try:
        plan_t = _plan(q_tfidf_top_terms(spark, SF_DIR))
        plan_u = _plan(q_unigram_familiarity(spark, SF_DIR))
    finally:
        spark.conf.unset("igtdetect.broadcastBoundBytes")
    for plan in (plan_t, plan_u):
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert "ShuffledHashJoin" in plan, plan
    # the 1-row distinct-source scalar in tf·idf may legitimately stay a
    # broadcast nested loop; the unigram plan has no scalar join at all
    assert "BroadcastNestedLoop" not in plan_u, plan_u


def test_term_stats_shuffle_branch_matches_broadcast_branch(spark):
    """Both join strategies produce identical rows — the size-aware
    hint changes the physical plan only."""
    from igtdetect_spark.entry_queries import (
        q_tfidf_top_terms,
        q_unigram_familiarity,
    )

    for q in (q_tfidf_top_terms, q_unigram_familiarity):
        base = sorted(map(tuple, q(spark, SF_DIR).collect()))
        spark.conf.set("igtdetect.broadcastBoundBytes", "0")
        try:
            alt = sorted(map(tuple, q(spark, SF_DIR).collect()))
        finally:
            spark.conf.unset("igtdetect.broadcastBoundBytes")
        assert base == alt


def test_chunked_stitch_is_native_and_small_branch_is_own_stage(spark, ctx):
    """Round-5 deep-skew stage-tail cuts: the span stitch must be JVM
    window/aggregate work (exactly ONE Python stage per branch — split
    and score on the mega side, the fused kernel on the small side; a
    third MapInPandas/FlatMapGroupsInPandas would mean the Python
    stitch came back), and the small-doc branch must sit behind its own
    exchange so AQE can materialize it concurrently with the split."""
    from igtdetect_spark.plans.chunked import detect_spans_chunked
    from igtdetect_spark.sources.pages import pages_from_documents

    plan = _plan(
        detect_spans_chunked(pages_from_documents(spark, SF_DIR), ctx)
    )
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("MapInPandas") == 3, plan  # split + score + fused
    # union of two branches, each behind an exchange: small-branch
    # round-robin + chunk balance hash + stitch url exchange
    assert plan.count("Exchange") >= 3, plan
    assert "Window" in plan  # the native gaps-and-islands stitch


def test_contamination_screen_broadcasts_eval_side(spark):
    """The eval shingle relation must arrive via a broadcast hash join —
    no shuffle of the corpus shingles, never a cartesian product."""
    from igtdetect_spark.entry_queries import q_contamination_screen

    plan = _plan(q_contamination_screen(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the corpus side reaches the join without an exchange: the only
    # hash exchanges allowed are the final (doc_id, eval_id) aggregate's
    assert _n_planner_shuffles(plan) <= 1, plan


def test_substring_dup_spans_two_shuffle_shape(spark):
    """Positional-gram dedup: one shuffle by gram (dup-gram aggregate +
    join back) and one by doc_id (window + island aggregate reuse the
    same partitioning); no cartesian, no Python evaluation."""
    from igtdetect_spark.entry_queries import q_substring_dup_spans

    df = q_substring_dup_spans(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # round 6: gram construction + md5 is one vectorized Arrow kernel
    # living inside the persisted gram relation (InMemoryTableScan
    # subtrees are elided from this rendering) — the visible plan must
    # stay free of row-pickling BatchEvalPython stages
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan, plan
    # gram-side exchanges (agg + join probe) + one doc_id exchange; the
    # island groupBy must NOT add a fourth (doc_id partitioning satisfies
    # the (doc_id, _isl) clustering)
    assert _n_planner_shuffles(plan) <= 3, plan
    from igtdetect_spark.operators.dedup import release_plan_caches

    release_plan_caches(df)


def test_mixture_resample_corpus_side_never_shuffles(spark):
    """Cell rates broadcast back onto the corpus scan: the only hash
    exchanges belong to the two tiny aggregates (cell counts + totals);
    the corpus rows reach the output through a broadcast join."""
    from igtdetect_spark.entry_queries import q_mixture_resample

    plan = _plan(q_mixture_resample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert _n_planner_shuffles(plan) <= 2, plan


def test_unigram_familiarity_two_aggregate_shape(spark):
    """One unigram aggregate (map-side combine) broadcast back onto the
    token stream + one per-doc aggregate — no sort-merge join, no
    cartesian, ≤2 hash exchanges, no Python evaluation."""
    from igtdetect_spark.entry_queries import q_unigram_familiarity

    plan = _plan(q_unigram_familiarity(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert _n_planner_shuffles(plan) <= 2, plan


def test_c4_clean_and_pii_redact_are_zero_shuffle_maps(spark):
    """The cheap page gates must pipeline into the scan: per-row map
    operators with no exchange and no Python evaluation — at 10^12
    docs these run before anything that shuffles."""
    from igtdetect_spark.entry_queries import q_c4_clean, q_pii_redact

    for q in (q_c4_clean, q_pii_redact):
        with _no_spread(spark):
            plan = _plan(q(spark, SF_DIR))
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "BatchEvalPython" not in plan, plan


def test_line_dedup_join_is_broadcast_xor_shuffle(spark):
    """The duplicated-line relation is corpus-derived: broadcast under
    the size bound (bench scale), plain shuffle-hash join above it
    (100 TB posture) — never unconditional, never cartesian."""
    from igtdetect_spark.entry_queries import q_line_dedup

    plan_small = _plan(q_line_dedup(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan_small, plan_small

    spark.conf.set("igtdetect.broadcastBoundBytes", "0")
    try:
        plan_big = _plan(q_line_dedup(spark, SF_DIR))
    finally:
        spark.conf.unset("igtdetect.broadcastBoundBytes")
    assert "BroadcastHashJoin" not in plan_big, plan_big
    assert "ShuffledHashJoin" in plan_big, plan_big
    for plan in (plan_small, plan_big):
        assert "CartesianProduct" not in plan, plan


def test_line_dedup_shuffle_branch_matches_broadcast_branch(spark):
    from igtdetect_spark.entry_queries import q_line_dedup

    base = sorted(map(tuple, q_line_dedup(spark, SF_DIR).collect()))
    spark.conf.set("igtdetect.broadcastBoundBytes", "0")
    try:
        alt = sorted(map(tuple, q_line_dedup(spark, SF_DIR).collect()))
    finally:
        spark.conf.unset("igtdetect.broadcastBoundBytes")
    assert base == alt


def test_dsir_bucket_stats_are_broadcast_and_bounded(spark):
    """The per-bucket stats relation is bounded at n_buckets rows BY
    CONSTRUCTION (unlike a vocabulary), so its broadcast is the correct
    plan at every corpus scale; the weighting join must be a broadcast
    hash join and the whole query at most two real exchanges (bucket
    stats agg + final per-doc agg)."""
    from igtdetect_spark.entry_queries import q_dsir_weights

    df = q_dsir_weights(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    n_shuffles = _n_planner_shuffles(plan)
    assert n_shuffles <= 2, plan


def test_sequence_pack_is_one_stratum_shuffle(spark):
    """Packing = one exchange on the stratum key + per-stratum running
    sum; no Python, no extra shuffle for the integral-DIV arithmetic."""
    from igtdetect_spark.entry_queries import q_sequence_pack

    plan = _plan(q_sequence_pack(spark, SF_DIR))
    assert _n_planner_shuffles(plan) == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_temperature_mixture_is_two_tiny_aggregates(spark):
    """Group counts + whole-frame windows over the (languages-sized)
    group relation — no cartesian, no Python, and the corpus is
    scanned exactly once (one hash aggregate feeds everything)."""
    from igtdetect_spark.entry_queries import q_temperature_mixture

    plan = _plan(q_temperature_mixture(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("FileScan parquet") == 1, plan


def test_incremental_dedup_join_is_broadcast_xor_shuffle(spark):
    """The seen-fingerprint relation is corpus-sized: broadcast under
    the bound, shuffle-hash on fingerprint above it, never cartesian —
    the same size-aware discipline as the term and boilerplate joins."""
    from igtdetect_spark.entry_queries import queries
    from igtdetect_spark.operators.dedup import release_plan_caches

    def plan_of_query():
        df = queries()["incremental_dedup"](spark, SF_DIR)
        plan = _plan(df)
        release_plan_caches(df)
        return plan

    plan_small = plan_of_query()
    assert "BroadcastHashJoin" in plan_small, plan_small
    spark.conf.set("igtdetect.broadcastBoundBytes", "0")
    try:
        plan_big = plan_of_query()
    finally:
        spark.conf.unset("igtdetect.broadcastBoundBytes")
    assert "ShuffledHashJoin" in plan_big, plan_big
    for plan in (plan_small, plan_big):
        assert "CartesianProduct" not in plan, plan


def test_host_template_strip_two_aggregate_join_shape(spark):
    """Template detection is two partial-agg hash aggregates joined on
    host; the strip is an explode → (host, line) join → one reassembly
    aggregate. No cartesian, no Python, no window sort."""
    from igtdetect_spark.entry_queries import q_host_template_strip

    plan = _plan(q_host_template_strip(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × ≥2 aggs


def test_redirect_resolve_is_unrolled_hash_joins(spark):
    """The walk is max_hops unrolled url-keyed equi-joins — no
    cartesian, no Python, no broadcast of the redirect map side beyond
    AQE's small-scale choice, and NO driver-side iteration (single
    plan)."""
    from igtdetect_spark.entry_queries import q_redirect_resolve

    plan = _plan(q_redirect_resolve(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_inverted_index_caps_before_collect(spark):
    """The posting-sample filter (_rk <= cap) must run BEFORE the
    collect_list aggregate — the Filter sits between the Window and the
    final HashAggregate in the executed plan."""
    from igtdetect_spark.operators.indexing import inverted_index

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(inverted_index(docs))
    w = plan.find("Window")
    assert w != -1
    # everything above the window (later stages) must include the
    # rank filter before any collect_list aggregate
    head = plan[:w]
    assert "collect_list" in head
    assert "_rk" in plan[w - 2000:] or "_rk" in plan


def test_wat_export_single_link_aggregate_no_python(spark):
    """WAT render: one (url) hash aggregate for the link lists, one
    url-keyed join back, pure native render — no Python stage."""
    from igtdetect_spark.entry_queries import q_wat_export

    plan = _plan(q_wat_export(spark, SF_DIR))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_link_spam_runs_at_host_pair_grain(spark):
    """The reciprocity semi-join joins the host-PAIR relation against
    its own swap — LeftSemi in the plan, and no cartesian/Python."""
    from igtdetect_spark.entry_queries import q_link_spam

    plan = _plan(q_link_spam(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_snapshot_upsert_is_one_agg_one_outer_join(spark):
    """Delta collapses to url grain in ONE hash aggregate (map-side
    combinable), then ONE full outer join — no window, no Python."""
    from igtdetect_spark.entry_queries import q_snapshot_upsert

    plan = _plan(q_snapshot_upsert(spark, SF_DIR))
    assert "FullOuter" in plan
    assert "Window" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_link_resolve_plan_is_zero_exchange_native(spark):
    """RFC 3986 resolution fuses into the page scan: one narrow
    flat map (explode), no shuffle, no Python evaluation."""
    from igtdetect_spark.entry_queries import q_link_resolve

    with _no_spread(spark):
        plan = _plan(q_link_resolve(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_domain_rollup_plan_is_broadcast_then_one_exchange(spark):
    """PSL attach = broadcast hash joins only (the suffix list is the
    canonical bounded dim); the only exchange is the final rollup
    aggregate's. No sort-merge join, no row fan-out explode."""
    from igtdetect_spark.entry_queries import q_domain_rollup

    plan = _plan(q_domain_rollup(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Generate" not in plan  # no candidate explode
    # the only SHUFFLES are the distinct-agg's two phases (host grain,
    # then domain grain — both map-side combinable); BroadcastExchange
    # nodes also contain the substring, so count hash exchanges only
    assert _n_planner_shuffles(plan) <= 2


def test_triangle_count_wedge_join_is_equi_keyed(spark):
    """The degree-orientation guarantees the wedge self-join runs on
    the equi key ``u`` (the rank comparison is a post-join filter, not
    a join strategy): no cartesian, no nested-loop wedge explosion,
    and no Python anywhere."""
    from igtdetect_spark.entry_queries import q_triangle_count

    plan = _plan(q_triangle_count(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_landmark_closeness_is_driver_bfs(spark):
    """Multi-source BFS: the frontier and visited set live on the
    driver (``_bfs_depths``), so settled (lm, id) pairs never re-expand
    — behavior pinned by the depth tests — and the FINAL plan reads the
    visited set as a local relation: no anti-join, no checkpoint scan,
    no re-derivation of the hops, and nothing runs in Python."""
    from igtdetect_spark.entry_queries import q_landmark_closeness

    plan = _plan(q_landmark_closeness(spark, SF_DIR))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert "LeftAnti" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bm25_query_join_is_broadcast(spark):
    """The query workload joins the corpus tf relation as a BROADCAST
    hash join (tiny by construction — it gates the corpus rows before
    the dl/df joins); the only nested-loop is the 1-row (N, Σdl)
    scalar cross join, and nothing runs in Python."""
    from igtdetect_spark.entry_queries import q_bm25_rank

    plan = _plan(q_bm25_rank(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_postings_stats_topk_is_take_ordered(spark):
    """The top-50-by-df cut compiles to TakeOrderedAndProject (Spark's
    distributed top-k: per-partition heads merged on the driver), NOT
    a single-partition global sort; no Python anywhere."""
    from igtdetect_spark.entry_queries import q_postings_stats

    plan = _plan(q_postings_stats(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_search_rank_fusion_windows_stay_query_partitioned(spark):
    """Every window in the fusion runs partitioned by query_id over
    the bounded candidate set — no global (unpartitioned) sort of the
    corpus by quality; the BM25 candidate stage keeps its broadcast
    query join.  Since round 6 the quality prior runs as ONE Arrow
    kernel (quality_scores), so exactly that vectorized Python node is
    expected — row-at-a-time Python stays banned."""
    from igtdetect_spark.entry_queries import q_search_rank_fusion

    plan = _plan(q_search_rank_fusion(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1  # the quality kernel
    # every Window node must name a partition spec (the unpartitioned
    # form renders as "Window [..., windowspecdefinition(... ORDER BY"
    # with no partition expressions — match on the spec text)
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "query_id" in m.group(1), m.group(0)


def test_dust_rules_is_one_equi_join_one_aggregate(spark):
    """Fingerprints are md5 projections fused into the scan; the
    variant↔base pairing is an equi join on the base url (no
    cartesian, no Python), then one hash aggregate to (host, param)."""
    from igtdetect_spark.entry_queries import q_dust_rules

    plan = _plan(q_dust_rules(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_crawl_trap_hosts_is_one_aggregate(spark):
    """Host parse + md5 fingerprint fuse into the scan; the whole
    screen is ONE hash aggregate on host (distinct counts expand to
    the standard two-phase plan) — no join, no Python."""
    from igtdetect_spark.entry_queries import q_crawl_trap_hosts

    plan = _plan(q_crawl_trap_hosts(spark, SF_DIR))
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_index_shard_balance_argmax_is_native(spark):
    """The rendezvous argmax runs as a native higher-order expression
    over a constant K-array — no per-shard row fan-out (no Generate
    beyond the token explode), no join, no Python."""
    from igtdetect_spark.entry_queries import q_index_shard_balance

    plan = _plan(q_index_shard_balance(spark, SF_DIR))
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # exactly ONE Generate: the token explode; the shard argmax must
    # not add another
    assert plan.count("Generate explode") == 1


def test_robots_rfc9309_is_broadcast_array_eval(spark):
    """Per-host rule arrays join broadcast (bounded control relation);
    the wildcard evaluation is a native higher-order filter — no
    per-rule row fan-out (single Generate-free page side), no Python."""
    from igtdetect_spark.entry_queries import q_robots_rfc9309

    plan = _plan(q_robots_rfc9309(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_revisit_export_is_one_join_native_render(spark):
    """The digest-store lookup is ONE equi-join on url (never a
    broadcast hint — the store is crawl-scale); render and parse-back
    are fused native string maps, no Python."""
    from igtdetect_spark.entry_queries import q_revisit_export

    plan = _plan(q_revisit_export(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize("name", [
    "canonical_attribution", "domain_rollup", "mime_sniff", "mirror_hosts",
])
def test_keyed_first_query_reads_its_scan_unspread(spark, name):
    """Scans are read raw and only per-row kernels spread their input:
    a query whose first operation is keyed (aggregate, window, join)
    gets no spread exchange in front of its keyed one."""
    from igtdetect_spark.entry_queries import queries
    from igtdetect_spark.operators.dedup import release_plan_caches

    df = queries()[name](spark, SF_DIR)
    plan = _plan(df)
    release_plan_caches(df)
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_spread_small_scan_is_scale_adaptive(spark):
    """The hash spread fires only under the byte bound (tiny bench
    inputs), hashes on the NAMED key whatever the column order, is
    idempotent, and is a strict no-op when disabled or over-bound —
    the cluster-scale guarantee that it cannot shrink parallelism."""
    from igtdetect_spark.operators.scale import spread_small_scan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    spread = spread_small_scan(docs, "doc_id")
    plan = _plan(spread)
    # hash on the id column — value-deterministic, no
    # sort-before-repartition (the round-robin trap: the determinism
    # sort runs on the single starved input task)
    assert "hashpartitioning(doc_id" in plan.lower(), plan
    assert "roundrobin" not in plan.lower(), plan
    # the key is taken by name, not position: a frame led by the
    # low-cardinality ``lang`` column still hashes on doc_id
    by_name = _plan(
        spread_small_scan(docs.select("lang", "doc_id"), "doc_id"))
    assert "hashpartitioning(doc_id" in by_name.lower(), by_name
    # idempotent: a second application adds no second exchange
    assert _plan(spread_small_scan(spread, "doc_id")).lower().count(
        "exchange hashpartitioning"
    ) == plan.lower().count("exchange hashpartitioning")
    # over the small-scan bound but LAYOUT-STARVED (single-row-group
    # file, fewer populated tasks than cores) → still spread (round-6
    # session-2: a 150 MB single-group driver table ran every map
    # stage as one task; the footer check catches it)
    spark.conf.set("igtdetect.spreadSmallScanBytes", "1")
    try:
        # hash on the leading id column, NOT round-robin: round-robin
        # sorts the (single, starved) input partition first
        p = _plan(spread_small_scan(docs, "doc_id")).lower()
        assert "hashpartitioning(doc_id" in p, p
        assert "roundrobin" not in p, p
        # starved branch disabled → over-bound input untouched
        spark.conf.set("igtdetect.spreadStarvedScanBytes", "0")
        assert spread_small_scan(docs, "doc_id") is docs
    finally:
        spark.conf.unset("igtdetect.spreadSmallScanBytes")
        spark.conf.unset("igtdetect.spreadStarvedScanBytes")
    # fully disabled → untouched
    spark.conf.set("igtdetect.spreadSmallScanBytes", "0")
    try:
        assert spread_small_scan(docs, "doc_id") is docs
    finally:
        spark.conf.unset("igtdetect.spreadSmallScanBytes")
    # a many-row-group over-bound input keeps its native splits: write
    # one with forced tiny row groups and a 1-byte small bound
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.limit(200).write.option("parquet.block.size", "1024") \
            .parquet(f"{d}/many.parquet")
        many = spark.read.parquet(f"{d}/many.parquet")
        import pyarrow.parquet as pq
        import glob as _g

        ngroups = sum(
            pq.ParquetFile(p).num_row_groups
            for p in _g.glob(f"{d}/many.parquet/*.parquet")
        )
        spark.conf.set("igtdetect.spreadSmallScanBytes", "1")
        try:
            out = spread_small_scan(many, "doc_id")
            if ngroups >= spark.sparkContext.defaultParallelism:
                assert out is many  # natively parallel → no exchange
        finally:
            spark.conf.unset("igtdetect.spreadSmallScanBytes")
