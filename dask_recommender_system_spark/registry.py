"""Query registry: the single source of truth behind the driver contract.

Every operator from SURVEY.md §2 registers itself here with

- a PySpark implementation ``fn(spark, sf_dir) -> DataFrame``, and
- (when SQL-expressible) its DuckDB oracle twin — an ANSI-SQL string over
  the pre-registered parquet views (region nation customer supplier part
  orders lineitem events documents embeddings).

``__spark_entry__.py`` re-exports this registry as ``queries()`` /
``oracle_sql()``. ``tests/test_oracle_parity.py`` runs the same
Spark-vs-DuckDB comparison the driver runs, locally at sf0.001.

Determinism rules (FIXTURES.md §6): every float output is ROUND(x, 6) on
both sides; every ranking has a unique tiebreak column; no wall-clock, no
unseeded randomness; timestamps leave the engine as epoch seconds BIGINT
so session-timezone settings cannot skew the comparison.

The registry also owns the checkpoint lifecycle: ``checkpoint`` pins a
frame in executor storage, and every ``REGISTRY[name].fn`` call holds the
checkpoints it made until the next top-level query call releases them —
so storage stays O(1) for any caller, with no harness-side drain.
"""

from __future__ import annotations

import functools
import threading
import weakref
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver falls back to rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}

#: observability for release_checkpoint (ADVICE r05): epoch loops can
#: assert released > 0 after a fit; a Spark upgrade that breaks the
#: private-API reach shows up as failed > 0 instead of silent leakage.
RELEASE_STATS: dict[str, int] = {"released": 0, "failed": 0}

#: every frame ``checkpoint`` produced that is not yet released — the
#: only frames ``release_checkpoint`` acts on
_LIVE: weakref.WeakSet[DataFrame] = weakref.WeakSet()


class _Scope(threading.local):
    """Per-thread query scope: the nesting depth of the running query call
    and the checkpoints made during the current (or last) top-level one.
    Per thread, so a query running on one thread never releases another
    thread's checkpoints."""

    def __init__(self) -> None:
        self.depth = 0
        self.held: list[DataFrame] = []


_scope = _Scope()


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint: materializes to executor storage and cuts the
    logical plan, so an iterate's plan depth is O(1), not O(rounds)
    (SURVEY.md §4.3), and a diamond junction is computed once instead of
    once per branch. Inside a query call the checkpoint is held by the
    call's scope and released at the next top-level query call; outside
    one (a direct model fit) the caller owns it. On a real cluster with
    flaky executors, prefer ``setCheckpointDir`` + ``df.checkpoint()``
    (reliable storage) every ~10 epochs, like MLlib ALS's
    checkpointInterval."""
    out = df.localCheckpoint(eager=True)
    _LIVE.add(out)
    if _scope.depth:
        _scope.held.append(out)
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Free a SUPERSEDED checkpoint's storage blocks immediately.

    ``df.unpersist()`` is a no-op here — checkpoint blocks are RDD-level
    storage, not CacheManager entries — so without this, epoch loops
    accumulate 2 checkpointed RDDs per epoch until executor storage
    pressure sets in; measured on a fresh local[32] session: flat
    3.2 s/epoch through epoch ~15, then 4.7 → 7.0 → 12.8 → 27.7 → 71 →
    173 s (x2+ per epoch) once the pile crosses the storage threshold.
    Deterministic release keeps storage O(1) in epoch count. A frame that
    ``checkpoint`` did not produce (a loop's round-0 seed, raw parity-test
    inits) is an uncounted no-op. CAUTION: only call once nothing
    references the frame — a released local checkpoint cannot be
    recomputed.

    This reaches the checkpointed RDD through the LogicalRDD root of the
    analyzed plan — private JVM internals, so a Spark upgrade that
    reshapes the plan would turn the release into a silent no-op. Guards
    (ADVICE r05): every release is counted in ``RELEASE_STATS``, where a
    broken reach shows as ``failed``, and
    tests/test_model_metrics.py::test_epoch_loop_resource_discipline
    asserts storage stays O(1) across epochs."""
    if df not in _LIVE:
        return
    _LIVE.discard(df)
    _scope.held[:] = [c for c in _scope.held if c is not df]
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        RELEASE_STATS["released"] += 1
    except Exception:
        RELEASE_STATS["failed"] += 1


def scoped(fn: QueryFn) -> QueryFn:
    """Run a query in a checkpoint scope. A top-level call first releases
    the previous call's checkpoints — by then its caller has run its
    action, and a released local checkpoint cannot be recomputed, so a
    caller re-running a result calls the query again. A nested call (one
    query composing another) joins its caller's scope."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        if not _scope.depth:
            while _scope.held:
                release_checkpoint(_scope.held.pop())
        _scope.depth += 1
        try:
            return fn(spark, sf_dir)
        finally:
            _scope.depth -= 1

    return run


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a declared query (SURVEY.md §2 inventory). The
    registered ``fn`` runs in a checkpoint scope; the module-level name
    stays the plain function."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, fn=scoped(fn), oracle=oracle, doc=fn.__doc__ or ""
        )
        return fn

    return deco


def load_all_operators() -> None:
    """Import every operator module so registration side effects run."""
    from .operators import (  # noqa: F401
        analytics,
        dedup,
        evaluation,
        extended,
        features,
        graph,
        grouped,
        linalg,
        multimodal,
        relational,
        scale,
        similarity,
        text,
        training,
        windows,
    )
    from .models import queries as model_queries  # noqa: F401
    from .streaming import windows as streaming_windows  # noqa: F401


# The driver's CORRECTNESS gate checks the first 50 entries of ``queries()``
# per round, so coverage rotates: this list fronts the names that most need
# a driver verdict; every name NOT listed here is already driver-green
# (CORRECTNESS_r01-r07) and falls back to registration order behind them.
# Round-8 front, in order (VERDICT r07 items 1+3): cumulative driver-green
# is 330/421 after seven rounds; this list is the round's one red row plus
# the 90-query never-checked queue —
#   (a) recs_intra_list_diversity FIRST: its r07 hash miss was an oracle
#       dtype bug (int / yields DOUBLE in DuckDB; now CAST ... AS BIGINT,
#       operators/windows.py) and the driver must re-check it green;
#   (b) the recurrence/stateful kernels (inventory FIFO, changepoint fit,
#       seasonal decompose, Nelson-Aalen, quantile normalize);
#   (c) the float-surface statistics (ACF, Cramer's V, ECE, delta-method,
#       Qini, causal-impact, permutation test);
#   (d) the ranking/eval reports (percentile_disc, equi-depth histogram,
#       RBO drift, Wilson CI, split-leakage audit);
#   (e) the remaining candidates-then-verify members (geo-grid kNN,
#       blocking quality, Bloom FPR, covisitation, itemsets);
#   (f) then the queue oldest-first — 41 names carry to round 9, which
#       closes full-registry driver coverage.
DRIVER_PRIORITY: list[str] = [
    "recs_intra_list_diversity",
    "inventory_fifo_matching",
    "revenue_changepoint_fit",
    "seasonal_decompose_additive",
    "survival_nelson_aalen",
    "quantile_normalize",
    "acf_daily_revenue",
    "cramers_v_matrix",
    "expected_calibration_error",
    "ratio_metric_delta_method",
    "qini_uplift_deciles",
    "causal_impact_lite",
    "permutation_test_diff",
    "percentile_disc_exact",
    "histogram_equi_depth",
    "ranking_rbo_drift",
    "wilson_ci_ranking",
    "split_leakage_audit",
    "geo_grid_knn",
    "blocking_quality_eval",
    "bloom_fpr_audit",
    "covisitation_timebound",
    "frequent_itemsets_l3",
    "concurrent_intervals_daily",
    "dedup_keep_best",
    "snapshot_diff",
    "nth_value_suite",
    "events_since_purchase",
    "pivot_multi_measure",
    "running_compound_growth",
    "array_set_ops_suite",
    "new_vs_returning_daily",
    "frequency_cap",
    "churn_risk_flags",
    "string_functions_extra",
    "bitwise_ops_suite",
    "boolean_agg_suite",
    "rolling_zscore",
    "monotonicity_audit",
    "share_of_parent",
    "join_fallback_hierarchy",
    "weighted_moving_avg",
    "trimmed_mean_grouped",
    "surrogate_keys",
    "table_fingerprint",
    "session_window_dynamic_gap",
    "feature_minmax_scale",
    "peak_activity_cell",
    "quality_stratified_sample",
    "corpus_jsonl_gz_roundtrip",
    "rolling_distinct_users_7d",
    "session_entropy",
    "funnel_step_deadlines",
    "grouped_ols_2var",
    "daily_crosscorr_lags",
    "woe_iv_binning",
    "diff_in_diff",
    "ab_srm_check",
    "largest_remainder_apportionment",
    "attribution_position_based",
    "feature_robust_scale",
    "dp_noisy_counts",
    "record_linkage_fs_weights",
    "sequence_regex_match",
    "graph_shortest_paths_weighted",
    "ipw_ate_by_segment",
    "forecast_backtest_mase",
    "ab_sequential_sprt",
    "graph_degree_assortativity",
    "burstiness_interevent",
    "bayes_beta_binomial",
    "dau_mau_stickiness",
    "herfindahl_concentration",
    "xyz_variability_classes",
    "slo_burn_alerts",
    "growth_accounting_weekly",
    "ab_cuped_adjustment",
    "user_segment_bitmaps",
    "embedding_outlier_flags",
    "attribution_time_decay",
    "funnel_within_window",
    "metric_change_contribution",
    "team_draft_interleaving",
    "join_cardinality_estimate",
    "event_lateness_profile",
    "k_anonymity_audit",
    "price_volume_mix_bridge",
    "reorder_point_policy",
    "net_revenue_retention",
    "cart_abandonment_daily",
    "text_boilerplate_share",
    "dedup_containment_sweep",
]


def _driver_order(names: list[str]) -> list[str]:
    """Priority names first (in DRIVER_PRIORITY order), the rest in
    registration order."""
    rank = {n: i for i, n in enumerate(DRIVER_PRIORITY)}
    prioritized = [n for n in DRIVER_PRIORITY if n in REGISTRY]
    rest = [n for n in names if n not in rank]
    return prioritized + rest


def all_queries() -> dict[str, QueryFn]:
    load_all_operators()
    return {n: REGISTRY[n].fn for n in _driver_order(list(REGISTRY))}


def all_oracles() -> dict[str, str]:
    load_all_operators()
    return {
        n: REGISTRY[n].oracle
        for n in _driver_order(list(REGISTRY))
        if REGISTRY[n].oracle is not None
    }
