"""Run every oracle-checked query against its DuckDB twin at sf0.001 —
the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from dask_recommender_system_spark.registry import REGISTRY, load_all_operators

from .oracle_util import compare, duckdb_con

load_all_operators()

ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, con, name):
    q = REGISTRY[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    oracle_pdf = con.sql(q.oracle).df()
    problems = compare(spark_pdf, oracle_pdf, name)
    assert not problems, "\n".join(problems)
    assert len(spark_pdf) > 0, f"{name}: empty result"


@pytest.mark.slow
@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.count() >= 0


def test_approx_distinct_error_bound(spark, sf_dir):
    """agg_approx_distinct now value-checks itself: each row carries the
    exact counts plus a 0/1 bounded-error flag the oracle reproduces as a
    constant 1 — all flags must be 1 and the exact counts must match an
    independent exact computation."""
    from pyspark.sql import functions as F

    rows = {
        r["bucket"]: r
        for r in REGISTRY["agg_approx_distinct"].fn(spark, sf_dir).collect()
    }
    from dask_recommender_system_spark.data import load_table, ratings_from_df

    r = ratings_from_df(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )
    exact = {
        row["bucket"]: row["n"]
        for row in r.groupBy((F.col("user_id") % 10).alias("bucket"))
        .agg(F.countDistinct("item_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for b, n in exact.items():
        assert rows[b]["exact_items"] == n
        assert rows[b]["items_within_bound"] == 1, (b, rows[b])
        assert rows[b]["users_within_bound"] == 1, (b, rows[b])


def test_hll_rollup_error_bound(spark, sf_dir):
    """hll_sketch_rollup now value-checks itself: each row carries the exact
    per-type distinct-user count plus a 0/1 sketch-error flag the oracle
    reproduces as a constant 1."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table

    rolled = {
        r["event_type"]: r
        for r in REGISTRY["hll_sketch_rollup"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    n_rows = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(rolled) == set(exact)
    for t, n in exact.items():
        assert rolled[t]["exact_users"] == n
        assert rolled[t]["within_bound"] == 1, (t, rolled[t])
        assert rolled[t]["n_rows"] == n_rows[t]


def test_kll_quantile_rollup_envelope(spark, sf_dir):
    """kll_quantile_rollup value-checks itself: each row carries the exact
    interpolated p50/p95 plus 0/1 rank-envelope flags the oracle reproduces
    as constant 1 — assert the flags hold and the exact values match a
    direct percentile over the same rows."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table

    rows = {
        r["event_type"]: r
        for r in REGISTRY["kll_quantile_rollup"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    direct = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert set(rows) == set(direct)
    for t, d in direct.items():
        assert rows[t]["n"] == d["n"]
        assert rows[t]["exact_p50"] == d["p50"]
        assert rows[t]["exact_p95"] == d["p95"]
        assert rows[t]["p50_within_bound"] == 1, (t, rows[t])
        assert rows[t]["p95_within_bound"] == 1, (t, rows[t])


def test_theta_set_ops_identities(spark, sf_dir):
    """theta_sketch_set_ops: inclusion-exclusion identities hold on the
    exact branch and every sketch-error flag is 1 (sketches are in exact
    mode below k=4096 entries, so this is deterministic at test SFs)."""
    [r] = REGISTRY["theta_sketch_set_ops"].fn(spark, sf_dir).collect()
    assert r["exact_union"] == r["exact_view"] + r["exact_purchase"] - r["exact_inter"]
    assert r["exact_diff"] == r["exact_view"] - r["exact_inter"]
    assert r["union_within_bound"] == 1
    assert r["inter_within_bound"] == 1
    assert r["diff_within_bound"] == 1


def test_gaps_islands_runs_are_maximal(spark, sf_dir):
    """gaps_islands: islands are maximal consecutive runs — within an
    island span == n_days (no holes), and consecutive islands of a user
    are separated by a gap of at least 2 days."""
    rows = REGISTRY["gaps_islands"].fn(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        assert r["span_days"] == r["n_days"], r
        assert r["end_day"] - r["start_day"] + 1 == r["n_days"], r
        by_user.setdefault(r["user_id"], []).append(r)
    gaps_seen = 0
    for islands in by_user.values():
        islands.sort(key=lambda r: r["start_day"])
        for a, b in zip(islands, islands[1:]):
            assert b["start_day"] - a["end_day"] >= 2, (a, b)
            gaps_seen += 1
    assert gaps_seen > 0  # fixture actually exercises multi-island users


def test_time_decayed_popularity_exact_dyadic(spark, sf_dir):
    """time_decayed_popularity: weights are dyadic so the score equals an
    exact integer-arithmetic recomputation (no float tolerance), and
    fresher interactions dominate: score <= n and score >= n * 0.5^20."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table, ratings_from_df
    from dask_recommender_system_spark.operators.analytics import (
        DECAY_HALFLIFE_D,
        DECAY_K_CAP,
    )

    rows = {
        r["item_id"]: r
        for r in REGISTRY["time_decayed_popularity"].fn(spark, sf_dir).collect()
    }
    r = ratings_from_df(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )
    tmax = r.agg(F.max("ts")).collect()[0][0]
    buckets = (
        r.select(
            "item_id",
            F.least(
                F.floor(F.datediff(F.lit(tmax), F.col("ts")) / DECAY_HALFLIFE_D),
                F.lit(DECAY_K_CAP),
            )
            .cast("long")
            .alias("k"),
        )
        .groupBy("item_id", "k")
        .count()
        .collect()
    )
    exact: dict[int, Fraction] = {}
    n_by_item: dict[int, int] = {}
    for b in buckets:
        exact[b["item_id"]] = exact.get(b["item_id"], Fraction(0)) + Fraction(
            b["count"], 2 ** b["k"]
        )
        n_by_item[b["item_id"]] = n_by_item.get(b["item_id"], 0) + b["count"]
    assert set(rows) == set(exact)
    for item, frac in exact.items():
        got = rows[item]["decayed_score"]
        assert got == round(float(frac), 6), (item, got, frac)
        assert got <= n_by_item[item]


def test_scan_xml_roundtrip_idempotent(spark, sf_dir):
    """scan_xml: the XML hop preserves values and re-running overwrites
    its own output (idempotent sink)."""
    a = REGISTRY["scan_xml"].fn(spark, sf_dir).toPandas()
    b = REGISTRY["scan_xml"].fn(spark, sf_dir).toPandas()
    assert len(a) == len(b) > 0
    key = a.sort_values("s_suppkey").reset_index(drop=True)
    assert key.equals(b.sort_values("s_suppkey").reset_index(drop=True))


def test_hierarchy_rollup_root_is_global_total(spark, sf_dir):
    """hierarchy_rollup: the root (node 0) subtree must equal the global
    spend total and member count — the invariant that catches both
    double-counted and dropped ancestors."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table

    rows = {
        r["node"]: r for r in REGISTRY["hierarchy_rollup"].fn(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    [g] = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("c"))
        .agg(F.sum("c").alias("total"), F.count("*").alias("n"))
        .collect()
    )
    assert rows[0]["subtree_spend_cents"] == g["total"]
    assert rows[0]["n_members"] == g["n"]
    # every non-root node's subtree is a subset of its parent's
    for node, r in rows.items():
        if node == 0:
            continue
        parent = rows[node // 10]
        assert r["n_members"] <= parent["n_members"], (node, r)
        assert r["subtree_spend_cents"] <= parent["subtree_spend_cents"]


def test_funnel_time_to_convert_sane(spark, sf_dir):
    """funnel_time_to_convert: converters are a subset of viewers and the
    latency distribution is ordered p50 <= p90, all positive."""
    [r] = REGISTRY["funnel_time_to_convert"].fn(spark, sf_dir).collect()
    assert 0 < r["n_converted"] <= r["n_viewed"]
    assert 0 < r["p50_s"] <= r["p90_s"]
    assert r["avg_s"] > 0


def test_pareto_frontier_is_undominated_and_complete(spark, sf_dir):
    """pareto_frontier_2d: no frontier row strictly dominates another
    (internal consistency), and no EXCLUDED item dominates any frontier
    row (the frontier is maximal)."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table

    front = REGISTRY["pareto_frontier_2d"].fn(spark, sf_dir).collect()
    assert front
    for a in front:
        for b in front:
            assert not (b["x"] > a["x"] and b["y"] > a["y"]), (a, b)
    li = load_table(spark, sf_dir, "lineitem")
    it = li.groupBy(F.col("l_partkey").alias("item_id")).agg(
        F.sum(F.floor("l_quantity").cast("long")).alias("x"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("y"),
    )
    xmax = it.agg(F.max("x")).collect()[0][0]
    best_at_xmax = it.filter(F.col("x") == xmax).agg(F.max("y")).collect()[0][0]
    # the max-x item(s) are always on the frontier
    assert any(r["x"] == xmax and r["y"] == best_at_xmax for r in front)


def test_mutual_information_nonnegative_and_bounded(spark, sf_dir):
    """mutual_information_screen: 0 <= MI <= H(X) (information can't
    exceed the entropy of the coarser variable)."""
    [r] = REGISTRY["mutual_information_screen"].fn(spark, sf_dir).collect()
    assert r["mi_nats"] >= 0
    assert r["h_x_nats"] > 0
    assert r["mi_nats"] <= r["h_x_nats"] + 1e-9


def test_benford_shares_sum_to_one(spark, sf_dir):
    """benford_deviation: observed shares and Benford reference shares
    each sum to ~1 over digits 1..9."""
    rows = REGISTRY["benford_deviation"].fn(spark, sf_dir).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["benford_share"] for r in rows) - 1.0) < 1e-4


def test_fuzzy_join_blocked_complete_within_blocks(spark, sf_dir):
    """fuzzy_join_blocked: against a pure-Python edit-distance oracle over
    the collected vocabulary, the operator finds EVERY same-first-letter
    pair within the threshold and nothing else."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table
    from dask_recommender_system_spark.operators.dedup import FUZZY_LEV_MAX

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    vocab = sorted(
        r["w"]
        for r in load_table(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("w"))
        .distinct()
        .collect()
    )
    expected = {
        (a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1 :]
        if a[0] == b[0] and lev(a, b) <= FUZZY_LEV_MAX
    }
    got = {
        (r["w1"], r["w2"]): r["dist"]
        for r in REGISTRY["fuzzy_join_blocked"].fn(spark, sf_dir).collect()
    }
    assert set(got) == expected
    for (a, b), d in got.items():
        assert d == lev(a, b), (a, b)


def test_weighted_sample_matches_python_recompute(spark, sf_dir):
    """weighted_sample_topk: the selected set equals an independent
    Python recompute of the A-ES keys (hashlib md5 + math.log), and the
    sample is weight-biased: its mean weight exceeds the population
    mean."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table
    from dask_recommender_system_spark.operators.extended import ARES_K

    pop = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("w"),
        )
        .collect()
    )
    keys = []
    for r in pop:
        v = int(hashlib.md5(str(r["o_orderkey"]).encode()).hexdigest()[:12], 16)
        keys.append(
            (math.log((v + 0.5) / float(1 << 48)) / r["w"], -r["o_orderkey"], r)
        )
    keys.sort(reverse=True)
    expected = {k[2]["o_orderkey"] for k in keys[:ARES_K]}
    got = REGISTRY["weighted_sample_topk"].fn(spark, sf_dir).collect()
    assert {r["o_orderkey"] for r in got} == expected
    mean_pop = sum(r["w"] for r in pop) / len(pop)
    mean_sample = sum(r["w_cents"] for r in got) / len(got)
    assert mean_sample > mean_pop


def test_dq_rules_fire_on_fixture(spark, sf_dir):
    """dq_rule_violations: the range rules demonstrably fire (a gate
    reporting constant zero checks nothing), the null/FK rules hold, and
    every rule checked the full table."""
    rows = {r["rule"]: r for r in REGISTRY["dq_rule_violations"].fn(spark, sf_dir).collect()}
    assert set(rows) == {
        "quantity_range", "discount_range", "shipdate_not_null", "orderkey_fk"
    }
    assert rows["quantity_range"]["n_violations"] > 0
    assert rows["discount_range"]["n_violations"] > 0
    assert rows["shipdate_not_null"]["n_violations"] == 0
    assert rows["orderkey_fk"]["n_violations"] == 0
    n = {r["n_checked"] for r in rows.values()}
    assert len(n) == 1 and n.pop() > 0


def test_fuzzy_clusters_partition_properties(spark, sf_dir):
    """dedup_fuzzy_clusters: every cluster label is itself a member and
    the lexicographic min of its cluster; singletons are canonical."""
    rows = REGISTRY["dedup_fuzzy_clusters"].fn(spark, sf_dir).collect()
    by_cluster: dict[str, list[str]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_word"], []).append(r["word"])
    assert sum(len(v) for v in by_cluster.values()) == len(rows)
    for label, members in by_cluster.items():
        assert label in members
        assert label == min(members)
    assert any(len(v) > 1 for v in by_cluster.values())  # real merges happened


def test_set_ops_bag_multiplicity_identity(spark, sf_dir):
    """set_ops_bag: per user, except_all(n) + intersect_all(n) must equal
    the user's raw 'view' multiplicity, and intersect_all(n) =
    min(views, clicks) — the defining bag identities."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table

    rows = REGISTRY["set_ops_bag"].fn(spark, sf_dir).collect()
    got: dict[tuple, int] = {(r["op"], r["user_id"]): r["n"] for r in rows}
    ev = load_table(spark, sf_dir, "events")
    counts = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    users = {u for (_, u) in counts}
    for u in users:
        nv = counts.get(("view", u), 0)
        nc = counts.get(("click", u), 0)
        assert got.get(("intersect_all", u), 0) == min(nv, nc), u
        assert got.get(("except_all", u), 0) == nv - min(nv, nc), u


def test_basket_lift_rule_invariants(spark, sf_dir):
    """basket_lift: confidence and support are probabilities, support <=
    confidence, and lift = confidence / P(item_b)."""
    rows = REGISTRY["basket_lift"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["support"] <= r["confidence"] <= 1, r
        assert r["lift"] > 0
        assert r["item_a"] < r["item_b"]


def test_bfs_levels_are_shortest_distances(spark, sf_dir):
    """graph_bfs_levels: level 0 is exactly the seed; every level-k node
    (k>0) has at least one neighbor at level k-1 and none at < k-1
    (the defining shortest-path property), checked on the collected
    level map against independently derived edges."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table

    lvl = {
        r["node"]: r["level"]
        for r in REGISTRY["graph_bfs_levels"].fn(spark, sf_dir).collect()
    }
    assert list(lvl.values()).count(0) == 1
    lines = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = (
        lines.alias("a")
        .join(lines.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
        .collect()
    )
    nbrs: dict[int, set] = {}
    for e in edges:
        nbrs.setdefault(e["u"], set()).add(e["v"])
    for node, k in lvl.items():
        if k == 0:
            continue
        neighbor_levels = {lvl[m] for m in nbrs.get(node, set()) if m in lvl}
        assert min(neighbor_levels) == k - 1, (node, k, sorted(neighbor_levels))


def test_interpolation_brackets_and_endpoints(spark, sf_dir):
    """timeseries_interpolate_linear: known days pass through unchanged,
    gap values lie strictly between their bracketing knowns (linear), and
    no row exists outside a user's [first, last] span."""
    rows = REGISTRY["timeseries_interpolate_linear"].fn(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    gaps_seen = 0
    for series in by_user.values():
        series.sort(key=lambda r: r["day"])
        days = [r["day"] for r in series]
        assert days == list(range(days[0], days[-1] + 1))  # dense grid
        assert not series[0]["was_gap"] and not series[-1]["was_gap"]
        known = [(r["day"], r["v_interp"]) for r in series if not r["was_gap"]]
        for r in series:
            if not r["was_gap"]:
                continue
            gaps_seen += 1
            prev = max((d, v) for d, v in known if d < r["day"])
            nxt = min((d, v) for d, v in known if d > r["day"])
            lo, hi = sorted((prev[1], nxt[1]))
            assert lo - 1e-6 <= r["v_interp"] <= hi + 1e-6, (r, prev, nxt)
    assert gaps_seen > 0


def test_skew_kurtosis_sane(spark, sf_dir):
    """grouped_skew_kurtosis: the value distribution is right-skewed
    (exponential-ish) in every type, and excess kurtosis is > -2 (its
    mathematical floor)."""
    rows = REGISTRY["grouped_skew_kurtosis"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["skewness"] > 0, r
        assert r["excess_kurtosis"] > -2, r


def test_rendezvous_hash_minimal_movement(spark, sf_dir):
    """consistent_hash_assignment: adding a shard must move only ~1/(N+1)
    of keys (the property rendezvous hashing exists for; mod-N would move
    ~N/(N+1)), and shards are roughly balanced."""
    import hashlib

    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table
    from dask_recommender_system_spark.operators.extended import N_SHARDS

    rows = REGISTRY["consistent_hash_assignment"].fn(spark, sf_dir).collect()
    shares = {r["shard"]: r["share"] for r in rows}
    assert set(shares) <= set(range(N_SHARDS))
    assert all(s < 3.0 / N_SHARDS for s in shares.values())

    def assign(key: int, n: int) -> int:
        scores = [
            int(hashlib.md5(f"{key}:{s}".encode()).hexdigest()[:8], 16)
            for s in range(n)
        ]
        return scores.index(max(scores))

    keys = [
        r["key"]
        for r in load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
        .collect()
    ]
    moved = sum(assign(k, N_SHARDS) != assign(k, N_SHARDS + 1) for k in keys)
    frac = moved / len(keys)
    assert 0 < frac < 2.5 / (N_SHARDS + 1), frac


def test_asof_tolerance_branches_both_fire(spark, sf_dir):
    """join_asof_tolerance: the fixture-calibrated SLA must exercise BOTH
    branches — some matches fresh, some nulled stale — and stale rows
    null the payload, never drop the row."""
    rows = REGISTRY["join_asof_tolerance"].fn(spark, sf_dir).collect()
    fresh = [r for r in rows if r["fresh"] == 1]
    stale = [r for r in rows if r["fresh"] == 0]
    assert fresh and stale
    for r in fresh:
        assert r["o_orderkey"] is not None and r["staleness_s"] is not None
    for r in stale:
        assert r["o_orderkey"] is None and r["staleness_s"] is None


def test_sketch_roundtrip_survives_storage(spark, sf_dir):
    """sketch_persist_roundtrip: the parquet-stored daily sketch table,
    read back cold, merges to within the error envelope for every type —
    and the stored table really is sketch-granular (|types|x|days| rows
    with a binary column)."""
    import os

    from dask_recommender_system_spark.data import IO_DIR

    rows = REGISTRY["sketch_persist_roundtrip"].fn(spark, sf_dir).collect()
    assert rows and all(r["within_bound"] == 1 for r in rows)
    stored = spark.read.parquet(f"{IO_DIR}/hll_daily_sketches")
    assert dict(stored.dtypes)["sk"] == "binary"
    assert stored.count() > len(rows)  # daily grain, not pre-merged


def test_snm_recall_equals_full_exact_pairs(spark, sf_dir):
    """dedup_sorted_neighborhood: on this fixture the window-{w} sorted
    neighborhood recovers the COMPLETE exact-Jaccard>=0.5 pair set (every
    true pair sorts within distance 2) — SNM's recall claim, measured
    not assumed."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table
    from dask_recommender_system_spark.operators.dedup import (
        exact_jaccard_on_pairs,
        shingles,
    )

    got = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_sorted_neighborhood"].fn(spark, sf_dir).collect()
    }
    # full exact pair set via the all-pairs oracle form
    d = load_table(spark, sf_dir, "documents")
    sh = shingles(d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    full = {
        (r["doc_a"], r["doc_b"])
        for r in common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .filter(jac >= 0.5)
        .collect()
    }
    assert got == full and got


def test_explode_outer_keeps_empty_rows(spark, sf_dir):
    """explode_outer_semantics: every doc_id%5==0 document survives as a
    single NULL row; every other document yields exactly 3 token rows."""
    rows = REGISTRY["explode_outer_semantics"].fn(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert any(d % 5 == 0 for d in by_doc)
    for doc, rs in by_doc.items():
        if doc % 5 == 0:
            assert len(rs) == 1 and rs[0]["pos"] is None and rs[0]["tok"] is None
        else:
            assert len(rs) == 3 and {r["pos"] for r in rs} == {0, 1, 2}


def test_abc_classes_are_monotone(spark, sf_dir):
    """abc_classification: classes are monotone in rank (A block, then B,
    then C), all three classes occur, and the A block covers <= 80% of
    revenue while A+B covers <= 95% + one item's worth."""
    rows = sorted(
        REGISTRY["abc_classification"].fn(spark, sf_dir).collect(),
        key=lambda r: r["rnk"],
    )
    classes = [r["abc_class"] for r in rows]
    assert set(classes) == {"A", "B", "C"}
    assert classes == sorted(classes)  # A* B* C* in rank order
    last_a = max(i for i, c in enumerate(classes) if c == "A")
    assert rows[last_a]["cum_share"] <= 0.8
    assert rows[last_a + 1]["cum_share"] > 0.8


def test_log2_histogram_total_and_bounds(spark, sf_dir):
    """log2_histogram: bucket counts sum to the row count and every
    bucket index is a plausible power-of-two exponent for cents."""
    from dask_recommender_system_spark.data import load_table

    rows = REGISTRY["log2_histogram"].fn(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n"] for r in rows) == n
    assert all(0 <= r["log2_bucket"] < 40 for r in rows)


def test_curation_funnel_monotone_and_cuts(spark, sf_dir):
    """corpus_curation_pipeline: the funnel is monotone (in >= unique >=
    quality) and every stage demonstrably cuts — planted exact dups for
    the dedup stage, the token band for quality — while chunks >= quality
    (every surviving doc yields at least one chunk)."""
    rows = REGISTRY["corpus_curation_pipeline"].fn(spark, sf_dir).collect()
    assert rows
    t_in = sum(r["n_in"] for r in rows)
    t_u = sum(r["n_unique"] for r in rows)
    t_q = sum(r["n_quality"] for r in rows)
    t_c = sum(r["n_chunks"] for r in rows)
    assert t_in > t_u > t_q  # both stages cut
    assert t_c >= t_q
    for r in rows:
        assert r["n_in"] >= r["n_unique"] >= r["n_quality"]


def test_overflow_semantics_branches(spark, sf_dir):
    """overflow_semantics: both branches fire, and NULLness of the scaled
    product exactly coincides with the overflow flag."""
    rows = REGISTRY["overflow_semantics"].fn(spark, sf_dir).collect()
    ovf = [r for r in rows if r["would_overflow"]]
    ok = [r for r in rows if not r["would_overflow"]]
    assert ovf and ok
    assert all(r["scaled_or_null"] is None for r in ovf)
    assert all(r["scaled_or_null"] is not None for r in ok)


def test_decimal_totals_are_exact_strings(spark, sf_dir):
    """decimal_money_suite: each group's decimal total equals the exact
    integer-cents recomputation, proving DECIMAL sums carry no float
    drift."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table

    rows = {r["o_orderpriority"]: r for r in REGISTRY["decimal_money_suite"].fn(spark, sf_dir).collect()}
    cents = {
        r["o_orderpriority"]: r["c"]
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("c"))
        .collect()
    }
    assert set(rows) == set(cents)
    for k, r in rows.items():
        assert Decimal(r["total_exact"]) == Decimal(cents[k]) / 100, (k, r)


def test_collation_merges_case_variants(spark, sf_dir):
    """collation_semantics: collated grouping is strictly coarser than
    binary grouping — at least one group holds two case variants."""
    rows = REGISTRY["collation_semantics"].fn(spark, sf_dir).collect()
    assert any(r["n_case_variants"] == 2 for r in rows)
    assert all(r["word_ci"] == r["word_ci"].lower() for r in rows)


def test_id_gap_audit_finds_planted_holes(spark, sf_dir):
    """id_gap_audit: the planted every-997th holes are found, and each
    bucket's missing count is positive and within the bucket span."""
    rows = REGISTRY["id_gap_audit"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_missing"] <= r["hi"] - r["lo"] + 1 - 1
        assert r["n"] + r["n_missing"] == r["hi"] - r["lo"] + 1


def test_dense_scaffold_grid_complete(spark, sf_dir):
    """dense_scaffold_fill: the output is the FULL |weeks|x|types| grid,
    empty cells exist (zero-filled with the flag set), and non-empty
    cells carry positive counts."""
    rows = REGISTRY["dense_scaffold_fill"].fn(spark, sf_dir).collect()
    weeks = {r["week"] for r in rows}
    types = {r["event_type"] for r in rows}
    assert len(rows) == len(weeks) * len(types)
    empty = [r for r in rows if r["was_empty"]]
    assert empty and all(r["n"] == 0 for r in empty)
    assert all(r["n"] > 0 for r in rows if not r["was_empty"])


def test_compound_growth_telescopes(spark, sf_dir):
    """running_compound_growth: the log-sum-exp running product must
    telescope — each week's index equals cnt / first_week_cnt to
    rounding tolerance."""
    rows = REGISTRY["running_compound_growth"].fn(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r["week"])
        # index is relative to the week BEFORE the first ratio row
        base = series[0]["cnt"] / series[0]["growth_index"]
        for r in series:
            assert abs(r["growth_index"] - r["cnt"] / base) < 1e-4, r


def test_array_set_ops_identities(spark, sf_dir):
    """array_set_ops_suite: |A∪B| = |A\\B| + |A∩B| + |B\\A| ⇒ in
    particular |union| + |intersect| = |A| + |B| on deduped halves;
    checked via |union| >= max sizes and the inclusion-exclusion
    derived from except."""
    rows = REGISTRY["array_set_ops_suite"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # n_union = n_except(A\B) + n_intersect + n_(B\A)
        n_b_only = r["n_union"] - r["n_except"] - r["n_intersect"]
        assert n_b_only >= 0, r
        assert r["n_intersect"] <= r["n_union"], r
