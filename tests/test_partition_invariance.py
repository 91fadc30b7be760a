"""Partition invariance: representative queries must produce identical
results on the optimize_layout catalog (multi-partition in-memory pins) as
on the raw single-file driver parquet — the A13/B17 parallelism matrix (threads=1 vs threads=2 in
the reference, test/all_types_*.test:163) generalized to whole queries.
Catches hidden order-dependence (unrounded double aggregates, collect_list
without sort, nondeterministic tie-breaks) that single-partition runs mask."""

from __future__ import annotations

import pytest

from duckdb_fastlanes_spark import catalog, registry
from tests.conftest import SF_DIR, reset_layout

#: one query per family with meaningful shuffle/aggregate behavior
REPRESENTATIVE = [
    "tpch_q1",
    "tpch_q5",
    "tpch_q18",
    "count_distinct",
    "agg_rollup",
    "agg_percentiles",
    "window_row_number",
    "window_moving_frame",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_tfidf_top_terms",
    "text_bigram_lm_score",
    "events_funnel",
    "agg_salted_twophase",
    "sample_bernoulli_hash",
    "split_train_val_test",
    "dedup_keep_best",
    "graph_pagerank",  # iterated double sums: the classic order-dependence trap
    "events_max_concurrency",  # RANGE-frame running sum must be peer-invariant
    "split_leakage_safe",  # cluster ids must not depend on partition layout
    "dq_split_divergence",  # KL/TVD float sums over the vocab must round stably
    "events_ewma_smoothing",  # HOF fold: order pinned by array_sort, not layout
    "graph_link_prediction",  # top-k with float scores: ties must break on ids
    "stream_upsert_latest",  # streaming state: last-write-wins must not depend
    # on source file split (the A13/B17 parity proof extended to a stateful
    # stream, reference test/all_types_multi_threaded.test:163)
    "graph_triangle_count",  # degree-ordered orientation: census must be
    # identical whatever file layout feeds the degree computation
    "encoding_advisor",  # run counts ride a canonical (key, value) order —
    # NOT scan order; (orderkey, linenumber) alone is not unique and an
    # earlier version silently depended on stable single-partition sort
    "tpch_q11",  # exact integer-cents sums: value must not move with layout
    "dsir_importance_weights",  # micro-unit quantized log-ratio sums
    "retrieval_hybrid_rrf",  # leg ranks from integer scores + id tiebreaks
    "events_hypertable_rollup",  # float sum(value) per bucket must round stably
    "window_frame_exclude",  # EXCLUDE emulation: frame membership rides a
    # total (month, id) order, never the scan order
    "window_filtered_agg",  # CASE-guarded running sums on a total order
    "dedup_ngram_jaccard",  # r3 df-cap: the kept-shingle set (df <= CAP)
    # hashes content, so survivor pairs must not move with file layout
    "dedup_containment",  # same capped join, asymmetric score
    "window_distribution_grouped",  # r3 grouped percent_rank/cume_dist:
    # peer groups ride (customer, value, id) total order, not scan order
    "fls_native_prune_scan",  # r4 native format: zone-map pruning +
    # partition-local encode must give one answer for any writer layout
    "fls_native_roundtrip",  # full encode/decode equality must hold for any
    # writer partitioning (per-partition 1024-vector framing differs)
    "fls_native_schema_evolution",  # union_by_name + promotion over files
    # written from different layouts must resolve one merged schema
    "sim_srp_lsh_topk",  # r5 signature-clustered index: probe top-k must be
    # identical whether the index was built from one file or many
    "sim_ivf_probe2_topk",  # r5 cell-clustered index, nprobe=2: the probed
    # cell pair and its top-k must not move with index build layout
    "sim_ivf_batch_topk",  # r5 batch ANN serving: every query's per-cell
    # top-k must be layout-independent
    "scan_bucketed_agg",  # r5 exchange-free bucket-key rollup: histogram
    # must match whatever layout fed the bucketed ingest
    "summarize_table",  # r8 sketch-refine quartiles: approx_percentile's
    # BRACKETS are layout-dependent (QuantileSummaries merge order), but any
    # valid bracket must select the identical exact quantile
    "text_ngram_novelty",  # r8: first-occurrence is min(doc_id) — a content
    # property that must not move with file layout
    "sim_centroid_outliers",  # r8: exact-integer centroid distances; the
    # top-5 ranking must be identical for any partitioning of the corpus
    "events_sessionization",  # r8: session numbering rides a (ts, event_id)
    # total order inside each user — boundaries must not move with file split
    "vocab_coverage_curve",  # r8: the vocab rank order (count desc, tok asc)
    # and exact cumulative counts must be identical for any corpus layout
    "agg_weighted_median",  # r8: cumulative weights ride a (price, orderkey,
    # linenumber) total order — the crossing row must not move with layout
    "events_top_paths",  # r8: per-user prefix rides the (ts, event_id) total
    # order; the path census must be identical for any file split
    "window_moving_median",  # r8: frame membership rides the (ts, event_id)
    # total order per user — the sorted 7-row frame must not move with layout
    "text_winnowing_fingerprints",  # r9: window minima ride the per-doc
    # (pos) order and fingerprints hash content — layout must not move them
    "text_jaccard_knn_graph",  # r9: DF-capped shingle sets + integer
    # intersection counts — neighbor ranking must not move with file split
    "graph_k_core",  # r9: iterative peel over localCheckpointed edge state —
    # per-round node/edge census must be identical for any input layout
    "customers_rfm_segments",  # r9: exact-integer Lloyd over z-scored RFM —
    # the fit is reduction-order-invariant by construction; this pins it
    "sketch_count_min_heavy_hitters",  # r9: integer hash family + mergeable
    # counters — sketch cells must not depend on partition merge order
]


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """Collect results on the raw catalog, then re-collect on the multi-file
    layout; yields both result dicts."""
    raw: dict[str, list] = {}
    qs = registry.queries()
    for name in REPRESENTATIVE:
        raw[name] = sorted(map(tuple, qs[name](spark, SF_DIR).collect()))

    # below the small-input gate: every table pinned in memory, the split
    # tables at min(staged file count, cores) partitions
    root = catalog.optimize_layout(
        spark, SF_DIR, cache_root=str(tmp_path_factory.mktemp("layout"))
    )
    multi: dict[str, list] = {}
    try:
        for name in REPRESENTATIVE:
            multi[name] = sorted(map(tuple, qs[name](spark, SF_DIR).collect()))
    finally:
        reset_layout(SF_DIR)
    assert root == SF_DIR.rstrip("/")
    return raw, multi


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_is_partition_invariant(layouts, name):
    raw, multi = layouts
    assert multi[name] == raw[name], f"{name} differs between layouts"
