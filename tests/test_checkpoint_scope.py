"""The registry's checkpoint scope keeps executor storage O(1) for a caller
that only calls ``queries()`` and runs an action — no drain, no cleanup
call — and never releases a checkpoint a query still reads."""

from __future__ import annotations

from dask_recommender_system_spark.registry import (
    RELEASE_STATS,
    all_oracles,
    all_queries,
)

from .oracle_util import compare, duckdb_con

# the batch queries that make a checkpoint; every stream query checkpoints
# its drained rows too, and test_stream_drains_leave_no_sink_views covers
# those
CHECKPOINTING = [
    "quantile_normalize",
    "cramers_v_matrix",
    "graph_shortest_paths_weighted",
    "dq_rule_violations",
    "timeseries_resample",
    "data_drift_psi",
    "chi2_independence",
    "pareto_frontier_2d",
    "abc_classification",
    "dedup_clusters",
    "dedup_fuzzy_clusters",
    "dedup_sorted_neighborhood",
    "doc_similarity_sparse",
    "vocab_coverage",
    "conformal_prediction_interval",
    "isotonic_calibration",
    "pagerank_items",
    "graph_triangle_stats",
    "graph_bfs_levels",
    "personalized_pagerank",
    "label_propagation_communities",
    "multimodal_dup_clusters",
    "mmr_rerank",
]

# queries that call another registered query; dedup_fuzzy_clusters pins a
# checkpoint (encode_column) before its nested fuzzy_join_blocked call, so
# a nested call that released its caller's scope breaks its result
NESTED = ["join_point_in_interval", "recommendation_coverage", "dedup_fuzzy_clusters"]


def test_storage_bounded_across_passes(spark, sf_dir):
    qs = all_queries()
    sc = spark.sparkContext
    failed_before = RELEASE_STATS["failed"]

    def one_pass() -> int:
        for name in CHECKPOINTING:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        return len(sc._jsc.sc().getRDDStorageInfo())

    held_1 = one_pass()
    held_2 = one_pass()
    assert held_2 <= held_1, (held_1, held_2)
    assert RELEASE_STATS["failed"] == failed_before == 0, RELEASE_STATS


def test_stream_drains_leave_no_sink_views(spark, sf_dir):
    """A drained stream hands its rows to the query scope: no memory-sink
    temp view outlives its query call, and storage stays bounded across
    passes with no cleanup between them."""
    qs = all_queries()
    names = [n for n, fn in qs.items() if fn.__module__.endswith(".streaming.windows")]
    assert names
    sc = spark.sparkContext
    failed_before = RELEASE_STATS["failed"]

    def temp_views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    def one_pass() -> int:
        for name in names:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return len(sc._jsc.sc().getRDDStorageInfo())

    before = temp_views()
    held_1 = one_pass()
    assert temp_views() == before
    held_2 = one_pass()
    assert temp_views() == before
    assert held_2 <= held_1, (held_1, held_2)
    assert RELEASE_STATS["failed"] == failed_before == 0, RELEASE_STATS


def test_nested_queries_keep_caller_checkpoints(spark, sf_dir):
    qs, oracles = all_queries(), all_oracles()
    con = duckdb_con(sf_dir)
    try:
        for name in NESTED:
            problems = compare(
                qs[name](spark, sf_dir).toPandas(), con.sql(oracles[name]).df(), name
            )
            assert not problems, "\n".join(problems)
    finally:
        con.close()
