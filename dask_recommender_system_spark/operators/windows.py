"""Event-time window aggregations, sessionization, pivot, set ops, top-k
(SURVEY.md §2.8 extensions X5/X6 + capabilities declared explicitly).

Batch ``F.window()`` has identical semantics to Structured Streaming's
tumbling/sliding windows, so these queries are the batch twins of
``streaming/windows.py`` — same plans, same oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..data import RATINGS_SQL, load_table
from ..registry import checkpoint, query, release_checkpoint
from .relational import ORACLE_EPOCH, _utc

def _ratings_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive-once materialized ratings view (SCALE.md): value-identical
    to the live ratings_from_df derivation, minus the md5-per-row prep."""
    from ..data import ratings_cached

    return ratings_cached(spark, sf_dir)


EPOCH_TS = ORACLE_EPOCH.format(col="ts")


@query(
    "window_events_tumbling",
    oracle=f"""
    SELECT CAST(FLOOR({EPOCH_TS} / 3600) * 3600 AS BIGINT) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def window_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: 1-hour tumbling event-time windows over `events` — batch form of
    the Structured Streaming windowed agg (same ``F.window`` semantics with
    a watermark; see streaming/windows.py). One shuffle on (window, type);
    at 100 TB pre-partitioning the stream by event_type removes it."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "window_events_sliding",
    oracle=f"""
    WITH shifted AS (
        SELECT (FLOOR({EPOCH_TS} / 1800) - k) * 1800 AS window_start, value
        FROM events CROSS JOIN (SELECT UNNEST(range(0, 2)) AS k))
    SELECT CAST(window_start AS BIGINT) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS sum_value
    FROM shifted GROUP BY 1
    """,
)
def window_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6b: 1-hour windows sliding every 30 min — each event lands in
    exactly 2 windows; Spark plans this as an Expand (×2 rows) before the
    hash aggregate, which is also what the oracle's cross-join models."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "n",
            "sum_value",
        )
    )


@query(
    "sessionize",
    oracle=f"""
    WITH g AS (
        SELECT user_id, event_id, ts,
               CASE WHEN {EPOCH_TS} - LAG({EPOCH_TS}) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events)
    SELECT user_id, event_id,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
    FROM g
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap → new session, via lag + running
    sum (the standard batch pattern; streaming twin is session_window /
    applyInPandasWithState in streaming/). One shuffle on user_id."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w = W.partitionBy("user_id").orderBy(*order)
    ep = F.unix_timestamp("ts")
    gap = ep - F.lag(ep).over(w)
    return (
        ev.withColumn("new_sess", F.when(gap > 1800, 1).otherwise(0))
        .withColumn(
            "session_id",
            F.sum("new_sess")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("long"),
        )
        .select("user_id", "event_id", "session_id")
    )


@query(
    "session_window_native",
    oracle=f"""
    WITH g AS (
        SELECT user_id, {EPOCH_TS} AS t,
               CASE WHEN {EPOCH_TS} - LAG({EPOCH_TS}) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
    s AS (
        SELECT user_id, t,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g)
    SELECT user_id, CAST(MIN(t) AS BIGINT) AS session_start,
           CAST(MAX(t) + 1800 AS BIGINT) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``F.session_window`` (30-min gap) — the idiomatic scale
    path for sessionization: one hash aggregate with session-merge inside
    the agg operator, no ranking window pass (compare `sessionize`, the
    lag+running-sum form, and streaming/stateful.py, the custom stateful
    form — three implementations, one gap semantics). Sessions merge while
    inter-event gap <= gap and split when it exceeds it (probe-verified:
    exact-gap events merge, so the oracle's ``> 1800`` lag test matches).
    Window end = last event + gap, per Spark's definition. Timestamps are
    truncated to whole seconds on the Spark side so both engines compare
    gaps in the same precision."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.timestamp_seconds(F.unix_timestamp("ts")).alias("tss")
    )
    return (
        ev.groupBy(F.session_window("tss", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            F.unix_timestamp("w.end").alias("session_end"),
            "n",
        )
    )


@query(
    "pivot_events",
    oracle="""
    SELECT user_id % 50 AS user_bucket,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS evt_click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS evt_error,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS evt_purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS evt_signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS evt_view
    FROM events GROUP BY 1
    """,
)
def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (implicit-pivot would need an extra
    job to collect distinct values — always pass the list at scale)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.withColumn("user_bucket", F.col("user_id") % 50)
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    return out.select(
        "user_bucket",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"evt_{c}")
          for c in ["click", "error", "purchase", "signup", "view"]],
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup'
                   THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_signup,
               MIN(CASE WHEN event_type = 'click'
                   THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase'
                   THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_purchase
        FROM events GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
           CAST(COUNT(CASE WHEN t_click > t_signup THEN 1 END) AS BIGINT)
               AS n_signup_then_click,
           CAST(COUNT(CASE WHEN t_click > t_signup AND t_purchase > t_click
                THEN 1 END) AS BIGINT) AS n_full_funnel
    FROM u
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis — how many users progressed signup → click →
    purchase, in that temporal order (first occurrence of each stage).
    Plan: ONE hash aggregate keyed user_id with conditional MINs (map-side
    partials shrink the shuffle to one row per user), then a scalar
    aggregate over the per-user rows. No window, no self-join — the
    classic funnel self-join formulation is O(events²) per user; the
    conditional-min form is O(events). Stage times are compared at
    whole-second epoch precision on both engines so the Spark micros /
    DuckDB nanos difference cannot flip an ordering."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")

    def first_ts(etype: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == etype, sec))

    u = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_signup")
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return u.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(clicked, 1)).alias("n_signup_then_click"),
        F.count(F.when(purchased, 1)).alias("n_full_funnel"),
    )


@query(
    "set_ops",
    oracle="""
    SELECT 'both' AS tag, c_custkey FROM (
        SELECT c_custkey FROM customer
        INTERSECT
        SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'customer_only' AS tag, c_custkey FROM (
        SELECT c_custkey FROM customer
        EXCEPT
        SELECT o_custkey FROM orders)
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (absent from the reference — SURVEY.md §2.8; free in
    Spark): INTERSECT/EXCEPT compile to left-semi/left-anti over distinct
    inputs."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = cust.intersect(ords).select(F.lit("both").alias("tag"), "c_custkey")
    only = cust.exceptAll(ords.distinct()).distinct().select(
        F.lit("customer_only").alias("tag"), "c_custkey"
    )
    return both.unionAll(only)


# item-item CF knobs, shared with the oracle: per-user history cap (the
# scale control — co-pair work is Σ_u cap², not Σ_u n_u²) and neighbors
# kept per item.
CF_USER_CAP = 50
CF_TOP_NEIGHBORS = 5


@query(
    "item_cf_similarity",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    dedup AS (SELECT user_id, item_id,
                     MAX({ORACLE_EPOCH.format(col='ts')}) AS t,
                     MAX(interaction_id) AS tie
              FROM r GROUP BY user_id, item_id),
    capped AS (SELECT user_id, item_id FROM (
        SELECT user_id, item_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY t DESC, tie DESC) AS rn
        FROM dedup) WHERE rn <= {CF_USER_CAP}),
    co AS (SELECT a.item_id AS item_a, b.item_id AS item_b,
                  CAST(COUNT(*) AS BIGINT) AS co
           FROM capped a JOIN capped b
             ON a.user_id = b.user_id AND a.item_id < b.item_id
           GROUP BY 1, 2),
    cnt AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM capped GROUP BY item_id),
    sim AS (SELECT item_a, item_b, co,
                   ROUND(co / SQRT(ca.n * cb.n), 6) AS sim
            FROM co JOIN cnt ca ON co.item_a = ca.item_id
                    JOIN cnt cb ON co.item_b = cb.item_id),
    sym AS (SELECT item_a AS item, item_b AS neighbor, co, sim FROM sim
            UNION ALL
            SELECT item_b AS item, item_a AS neighbor, co, sim FROM sim)
    SELECT item, neighbor, co, sim, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY item
                                     ORDER BY sim DESC, neighbor) AS rnk
        FROM sym) WHERE rnk <= {CF_TOP_NEIGHBORS}
    """,
)
def item_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity — the classic
    neighborhood-method complement to the reference's factor models:
    items are similar when the same users interact with both (cosine over
    binary user vectors = co_count / sqrt(n_a * n_b)), top neighbors kept
    per item. The 100 TB shape: histories are CAPPED to each user's
    CF_USER_CAP = 50 most recent items FIRST (deterministic recency
    ranking), so the within-user pair generation — the only superlinear
    stage — is bounded by Σ_u cap² instead of a power-user's n_u²; the
    co-count is then one keyed hash aggregate, degree normalization two
    small joins, and the per-item top-k a keyed ranking window. Every
    stage keyed, nothing global."""
    r = _ratings_view(spark, sf_dir)
    dedup = r.groupBy("user_id", "item_id").agg(
        F.max(F.unix_timestamp("ts")).alias("t"),
        F.max("interaction_id").alias("tie"),
    )
    w_cap = W.partitionBy("user_id").orderBy(F.col("t").desc(), F.col("tie").desc())
    capped = (
        dedup.withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= CF_USER_CAP)
        .select("user_id", "item_id")
    )
    # Degrees ride WITH the rows (VERDICT r08 item 4): the r08 form
    # joined a `cnt = capped.groupBy(item_id).count()` aggregate back
    # onto the pairs TWICE (na/nb) — capped fed three plan consumers, so
    # under the bench's count() action the dedup→cap-window subtree
    # replayed (count median ~2x the noop; an eager checkpoint of capped
    # measured worse, r08). Attaching n as a count window BEFORE pair
    # generation makes the whole query ONE linear pipeline — no diamond,
    # no degree joins, nothing for count() to break; the two extra
    # narrow-row exchanges (by item_id, back by user_id) are the price,
    # measured cheaper than the replay (guide §2.4).
    capped_n = capped.withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("item_id"))
    )
    # pair generation: gather each user's (already ≤ cap) items into one
    # sorted array, emit ordered pairs with a narrow nested transform —
    # measured ~30% faster than the a⋈b self-join at sf0.1 because the
    # pairs never cross a second user_id shuffle, only the (a,b) co agg.
    # (item_id, n) structs sort by item_id first (unique per user), so
    # the pair order is the r08 order exactly.
    lists = capped_n.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("item_id", "n"))).alias("items")
    )
    pairs = lists.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) -> "
                "transform(slice(items, i+2, size(items)), "
                "y -> struct(x.item_id AS item_a, x.n AS na, "
                "y.item_id AS item_b, y.n AS nb))))"
            )
        ).alias("p")
    ).select("p.item_a", "p.na", "p.item_b", "p.nb")
    # na/nb are functions of item_a/item_b — grouping by all four keeps
    # the group grain (item_a, item_b) while carrying the degrees through
    # the aggregate for free
    co = pairs.groupBy("item_a", "item_b", "na", "nb").agg(
        F.count("*").alias("co")
    )
    sim = co.select(
        "item_a",
        "item_b",
        "co",
        F.round(F.col("co") / F.sqrt(F.col("na") * F.col("nb")), 6).alias("sim"),
    )
    # both directions in ONE pass: the union-of-two-selects form repeated
    # the whole pairs→co→sim subtree twice in the plan (12 parquet scans,
    # 46 Exchanges at r08 profiling; under count() the reused exchange
    # broke and the window+pair stage recomputed, 22–29 s vs the 6–10 s
    # noop). An in-row explode of (a→b, b→a) keeps one subtree (guide
    # §2.4: remove duplicated work the optimizer can't deduplicate).
    sym = sim.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item"),
                    F.col("item_b").alias("neighbor"),
                ),
                F.struct(
                    F.col("item_b").alias("item"),
                    F.col("item_a").alias("neighbor"),
                ),
            )
        ).alias("d"),
        "co",
        "sim",
    ).select("d.item", "d.neighbor", "co", "sim")
    w_rank = W.partitionBy("item").orderBy(F.col("sim").desc(), "neighbor")
    return (
        sym.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= CF_TOP_NEIGHBORS)
        .select("item", "neighbor", "co", "sim", "rnk")
    )


# Per-user list size, and the candidate-prune margin: the additive bias
# model only needs the global top (RECO_TOP_K × RECO_PRUNE_MARGIN) items
# as candidates (exact containment — see the docstring), so the margin is
# a safety knob, not a recall knob. SCALE.md §"choosing k and margins"
# covers picking these at a 10⁹-item catalog.
RECO_TOP_K = 5
RECO_PRUNE_MARGIN = 4
RECO_POOL = RECO_TOP_K * RECO_PRUNE_MARGIN

# Containment guard shared by the recommend_top_k / recs_novelty oracles.
# The pruned oracle embeds the engine's own pool cut, so the containment
# assumption (per-user top-k ⊆ global top-pool by bi) must stay checked
# INSIDE the oracle: bi sits on the 1e-6 ROUND grid, so the only way
# ROUND(mu + bu + bi, 6) can collide across the pool boundary is a
# boundary gap of exactly one grid step (0 < gap < 2e-6). An exact bi tie
# is safe — the pool keeps the smaller item_id, which is also the per-user
# score tiebreak. When the unsafe gap occurs the guard emits a sentinel
# row, turning a silent wrong top-k into a loud rows/hash mismatch.
RECO_GUARD_SQL = f"""
    boundary AS MATERIALIZED (
        SELECT bi FROM (
            SELECT bi, ROW_NUMBER() OVER (ORDER BY bi DESC, item_id) AS rn
            FROM ib)
        WHERE rn IN ({RECO_POOL}, {RECO_POOL} + 1))"""


@query(
    "recommend_top_k",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    train AS (SELECT * FROM r WHERE interaction_id % 10 < 7),
    mu AS (SELECT ROUND(AVG(rating), 6) AS mu FROM train),
    ub AS (SELECT user_id, ROUND(AVG(rating) - (SELECT mu FROM mu), 6) AS bu
           FROM train GROUP BY user_id),
    ib AS (SELECT item_id, ROUND(AVG(rating) - (SELECT mu FROM mu), 6) AS bi
           FROM train GROUP BY item_id),
    users AS (SELECT user_id, bu FROM ub WHERE user_id % 29 = 0),
    -- same containment prune as the engine side (see recommend_top_k):
    -- score = mu + bu + bi is additive, so per-user rank order equals
    -- (bi DESC, item_id) order up to 1e-6 rounding collisions, and the
    -- margin pool contains every user's top-k. The unpruned
    -- users x catalog cross join is ~1e9 rows at the 10x sweep.
    pool AS MATERIALIZED (
        SELECT item_id, bi FROM ib
        ORDER BY bi DESC, item_id LIMIT {RECO_POOL}),
    {RECO_GUARD_SQL},
    scored AS (
        SELECT u.user_id, i.item_id,
               ROUND((SELECT mu FROM mu) + u.bu + i.bi, 6) AS score
        FROM users u CROSS JOIN pool i),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY score DESC, item_id) AS rnk
        FROM scored)
    SELECT user_id, item_id, CAST(rnk AS BIGINT) AS rnk, score
    FROM ranked WHERE rnk <= {RECO_TOP_K}
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
           CAST(-1 AS DOUBLE)
    WHERE (SELECT COUNT(*) FROM boundary) = 2
      AND (SELECT MAX(bi) - MIN(bi) FROM boundary) BETWEEN 1e-12 AND 2e-6
    """,
)
def recommend_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: per-user top-k recommendations (report.pdf §2's "top N items";
    MLlib's ``recommendForAllUsers`` is the model-based fast path — see
    models/queries.py). Declared oracle form: score every (user, item) pair
    for a deterministic user sample with the bias model, window-rank ≤ k.
    At 100 TB the cross join is the cost — the real path prunes with LSH
    (see operators/similarity.py) or MLlib's blocked BLAS ranking.
    Reads the derive-once materialized ratings view (data.ratings_cached)
    — recs_novelty consumes this query AND the view again, so
    materialize-once removes the repeated md5 interaction_id derivation
    the round-6 determinism fix introduced."""
    from ..data import ratings_cached

    r = ratings_cached(spark, sf_dir)
    train = r.filter(F.col("interaction_id") % 10 < 7).persist()
    mu = train.agg(F.round(F.avg("rating"), 6).alias("mu"))
    ub = (
        train.crossJoin(F.broadcast(mu))
        .groupBy("user_id")
        .agg(F.round(F.avg("rating") - F.first("mu"), 6).alias("bu"))
    )
    ib = (
        train.crossJoin(F.broadcast(mu))
        .groupBy("item_id")
        .agg(F.round(F.avg("rating") - F.first("mu"), 6).alias("bi"))
    )
    users = ub.filter(F.col("user_id") % 29 == 0)
    # Candidate pruning (exact): score = μ + bu + bi is additive, so every
    # user's top-k under (score DESC, item_id) is contained in the global
    # top-k items under (bi DESC, item_id). RECO_PRUNE_MARGIN keeps a
    # safety multiple — turns the users × n_items cross join (10M+ rows at
    # sf0.1) into users × (k × margin). With a full P·Q model this pruning
    # generalizes to the ANN candidates (operators/similarity.py) or
    # MLlib's blocked top-k. orderBy+limit compiles to
    # TakeOrderedAndProject — per-partition top-k merged at the driver, no
    # single-partition ranking window even at a 10⁹-item dimension.
    ib_top = ib.orderBy(F.col("bi").desc(), F.col("item_id")).limit(RECO_POOL)
    scored = (
        users.crossJoin(F.broadcast(ib_top))
        .crossJoin(F.broadcast(mu))
        .select(
            "user_id",
            "item_id",
            F.round(F.col("mu") + F.col("bu") + F.col("bi"), 6).alias("score"),
        )
    )
    w = W.partitionBy("user_id").orderBy(F.col("score").desc(), F.col("item_id"))
    out = (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= RECO_TOP_K)
        .select("user_id", "item_id", "rnk", "score")
    )
    return out


@query(
    "window_functions_suite",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL})
    SELECT user_id, interaction_id,
           CAST(RANK() OVER ord AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER ord AS BIGINT) AS drnk,
           LAG(rating, 1) OVER ord AS prev_rating,
           LEAD(rating, 1) OVER ord AS next_rating,
           ROUND(SUM(rating) OVER (PARTITION BY user_id ORDER BY interaction_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS running_sum
    FROM r
    WHERE user_id % 50 = 0
    WINDOW ord AS (PARTITION BY user_id ORDER BY interaction_id)
    """,
)
def window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window surface beyond D2's ranking dedup (SURVEY.md
    §2.8 notes the reference has none — declared to pin the inherited
    capability): rank, dense_rank, lag, lead, and a running frame-bounded
    sum, all over ONE window partitioning — Spark plans a single sort +
    WindowExec, one shuffle on user_id. interaction_id is the unique
    tiebreak (FIXTURES.md determinism rule)."""
    r = _ratings_view(spark, sf_dir).filter(F.col("user_id") % 50 == 0)
    ord_w = W.partitionBy("user_id").orderBy("interaction_id")
    run_w = ord_w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return r.select(
        "user_id",
        "interaction_id",
        F.rank().over(ord_w).cast("long").alias("rnk"),
        F.dense_rank().over(ord_w).cast("long").alias("drnk"),
        F.lag("rating", 1).over(ord_w).alias("prev_rating"),
        F.lead("rating", 1).over(ord_w).alias("next_rating"),
        F.round(F.sum("rating").over(run_w), 6).alias("running_sum"),
    )


@query(
    "window_range_rolling",
    oracle="""
    WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice,
                      CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS t
               FROM orders)
    SELECT o_custkey, o_orderkey, t,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY t
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 6)
               AS rolling_30d,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY t
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_30d
    FROM o
    """,
)
def window_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frames: per-customer rolling 30-day spend
    and order count. RANGE frames bound by *value* distance (here epoch
    seconds), not row count — the shape behind "last-N-days" features in
    training pipelines, and semantically safe under timestamp ties (all
    peers join the frame, so the result is deterministic without a
    tiebreak, unlike a ROWS frame). One shuffle on the partition key; the
    frame is evaluated by a sliding accumulator inside WindowExec, not a
    self-join — linear per partition at 100 TB."""
    _utc(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.unix_timestamp("o_orderdate").alias("t"),
    )
    w = W.partitionBy("o_custkey").orderBy("t").rangeBetween(-2592000, 0)
    return o.select(
        "o_custkey", "o_orderkey", "t",
        F.round(F.sum("o_totalprice").over(w), 6).alias("rolling_30d"),
        F.count("*").over(w).alias("n_30d"),
    )


# HLL++ rsd for agg_approx_distinct, and the value-checked error bound:
# the driver-verifiable claim is |estimate - exact| <= max(BOUND*exact, 3),
# a >4-sigma envelope around the 2.3% rsd — deterministically true for the
# sketch on any dataset the driver regenerates, so it can be hash-compared
# against an oracle that emits the same exact counts and a constant 1.
APPROX_DISTINCT_RSD = 0.023
APPROX_DISTINCT_BOUND = 0.10


@query(
    "agg_approx_distinct",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    e AS (SELECT user_id % 10 AS bucket,
                 COUNT(DISTINCT item_id) AS exact_items,
                 COUNT(DISTINCT user_id) AS exact_users
          FROM r GROUP BY user_id % 10)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(exact_items AS BIGINT) AS exact_items,
           CAST(exact_users AS BIGINT) AS exact_users,
           CAST(1 AS BIGINT) AS items_within_bound,
           CAST(1 AS BIGINT) AS users_within_bound
    FROM e
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting (HyperLogLog++) — the A1/A3 path at
    100 TB where an exact countDistinct's shuffle is not worth it: one pass,
    fixed sketch memory per group, relative error ≤ 2.3%. DuckDB's
    approx_count_distinct uses a different sketch, so the raw estimate
    cannot be hash-compared; instead the query emits the exact counts plus
    a bounded-error FLAG (|estimate - exact| within a >4-sigma envelope of
    the rsd), which the oracle CAN compute — promoting this from rows-only
    to a full value-checked verdict. The exact countDistinct branch exists
    only for this verification; production use emits the estimate alone."""
    r = _ratings_view(spark, sf_dir)
    agged = r.groupBy((F.col("user_id") % 10).alias("bucket")).agg(
        F.approx_count_distinct("item_id", APPROX_DISTINCT_RSD).alias("ai"),
        F.approx_count_distinct("user_id", APPROX_DISTINCT_RSD).alias("au"),
        F.countDistinct("item_id").alias("exact_items"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    bound = lambda est, exact: (  # noqa: E731
        F.abs(F.col(est) - F.col(exact))
        <= F.greatest(F.lit(APPROX_DISTINCT_BOUND) * F.col(exact), F.lit(3.0))
    ).cast("long")
    return agged.select(
        "bucket",
        "exact_items",
        "exact_users",
        bound("ai", "exact_items").alias("items_within_bound"),
        bound("au", "exact_users").alias("users_within_bound"),
    )


# Datasketches HLL (lgK=12) RSE is ~1.6%; the value-checked envelope is
# |estimate - exact| <= max(HLL_ROLLUP_BOUND*exact, 3) — ~5 sigma.
HLL_ROLLUP_BOUND = 0.08


@query(
    "hll_sketch_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
           CAST(1 AS BIGINT) AS within_bound
    FROM events GROUP BY event_type
    """,
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the 100 TB distinct-count pattern:
    per-(event_type, day) HLL sketches of user_id built in ONE pass at
    ingest grain, then rolled up to per-event_type distinct-user estimates
    by UNIONING the day sketches (`hll_union_agg`) — never rescanning the
    base data. At scale the daily sketch table (a few KB per group) is
    what you persist; every coarser rollup (weekly, monthly, all-time) is
    a cheap merge over sketches, which an exact countDistinct cannot do
    (its per-day distinct sets don't add). Two keyed hash aggregates,
    both map-side-partial; the second runs on |types|×|days| rows.

    Datasketches binaries are engine-specific, so the raw estimate cannot
    be hash-compared against DuckDB; the query instead emits the exact
    per-type distinct count plus a bounded-error FLAG the oracle can also
    compute (promoting it from rows-only to a full value-checked verdict).
    The exact branch is verification-only; production keeps the sketch
    path, whose whole point is never rescanning the base data."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"), F.count("*").alias("n_rows"))
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.sum("n_rows").alias("n_rows"),
        F.count("*").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return rolled.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "exact_users",
        "n_rows",
        "n_days",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(
                F.lit(HLL_ROLLUP_BOUND) * F.col("exact_users"), F.lit(3.0)
            )
        )
        .cast("long")
        .alias("within_bound"),
    )


# x for the trend fit: days since 2024-01-01 (epoch 1704067200) — scaling
# the regressor keeps slopes in a readable range and is shared verbatim
# with the oracle.
TREND_EPOCH0 = 1704067200


@query(
    "trend_linear_fit",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(REGR_SLOPE(value, (CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - {TREND_EPOCH0}) / 86400.0), 6) AS slope,
           ROUND(REGR_INTERCEPT(value, (CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - {TREND_EPOCH0}) / 86400.0), 6) AS intercept,
           ROUND(CORR(value, (CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - {TREND_EPOCH0}) / 86400.0), 6) AS r
    FROM events GROUP BY event_type
    """,
)
def trend_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend (value regressed on
    event-time, per event_type) via the built-in regression AGGREGATES —
    the scalable way to fit a million tiny models: one map-side-partial
    hash aggregate carrying the (n, Σx, Σy, Σxy, Σx²) moments, no
    iteration, no Python, no per-group collect. The same shape fits
    per-user / per-item trends at 100 TB (group key swaps, plan doesn't).
    Both engines compute REGR_SLOPE/REGR_INTERCEPT/CORR natively from
    identical second-truncated day offsets."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts") - F.lit(TREND_EPOCH0)) / 86400.0
    d = ev.select("event_type", F.col("value").alias("y"), x.alias("x"))
    return d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.corr("y", "x"), 6).alias("r"),
    )


Z_THRESHOLD = 2.5


@query(
    "anomaly_zscore",
    oracle=f"""
    WITH s AS (SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, ROUND(e.value, 6) AS value,
           ROUND((e.value - s.mu) / s.sigma, 6) AS z
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE s.sigma > 0
      AND ABS(ROUND((e.value - s.mu) / s.sigma, 6)) >= {Z_THRESHOLD}
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection (|z| ≥ Z_THRESHOLD = 2.5 against the
    event_type's mean/stddev) — the data-quality screen a training pipeline
    runs before trusting a metric column. Deliberately two-pass (tiny
    stats aggregate, then broadcast back over a second scan) rather than an
    analytic window: with a handful of event_types, a window partitioned by
    event_type concentrates 100 TB into a few huge partitions, while the
    broadcast join keeps the second pass embarrassingly parallel. Both
    engines filter on the ROUNDED z so borderline float noise in the
    aggregation order cannot flip row membership; zero-variance and
    single-row groups are excluded EXPLICITLY (sigma > 0) on both sides —
    division-by-zero semantics differ across engines/configs (NULL vs
    NaN/inf), so the guard keeps membership engine-independent."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    ).filter(F.col("sigma") > 0)
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) >= Z_THRESHOLD)
    )


# --- Markov next-item recommender (X110) ----------------------------------

MARKOV_TOP_NEXT = 3  # next-item candidates kept per current item


@query(
    "markov_next_item",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    seq AS (SELECT user_id, item_id, ts, interaction_id,
                   LAG(item_id) OVER (PARTITION BY user_id
                                      ORDER BY ts, interaction_id, item_id)
                       AS prev_item
            FROM r),
    big AS (SELECT prev_item AS cur_item, item_id AS next_item,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM seq WHERE prev_item IS NOT NULL
            GROUP BY 1, 2),
    tot AS (SELECT cur_item, SUM(cnt) AS total FROM big GROUP BY cur_item),
    rk AS (SELECT b.cur_item, b.next_item, b.cnt,
                  ROUND(CAST(b.cnt AS DOUBLE) / t.total, 6) AS prob,
                  ROW_NUMBER() OVER (PARTITION BY b.cur_item
                                     ORDER BY b.cnt DESC, b.next_item) AS rnk
           FROM big b JOIN tot t ON b.cur_item = t.cur_item)
    SELECT cur_item, next_item, cnt, prob, CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= {MARKOV_TOP_NEXT}
    """,
)
def markov_next_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110: first-order Markov next-item recommender — the sequential
    baseline every session-based recommender is benchmarked against:
    per-user time-ordered item bigrams, transition counts, conditional
    probability P(next|cur), top-MARKOV_TOP_NEXT candidates per current
    item. The item-level sibling of event_transition_counts (X53, event
    TYPES): one user-keyed lag window (deterministic interaction_id
    tiebreak), one keyed bigram agg to |item-pairs-observed| rows —
    bounded by interactions, not catalog² — then a cur_item-keyed total
    + top-k ranking window. Nothing global; the bigram table is the
    model, ready for a broadcast-join serving lookup."""
    r = _ratings_view(spark, sf_dir)
    # item_id closes the order: the generator plants duplicate
    # interaction_ids (dedup fixtures), and 8 of them share ts with a
    # different item — without the third key the lag order is ambiguous
    w = W.partitionBy("user_id").orderBy("ts", "interaction_id", "item_id")
    seq = r.withColumn("prev_item", F.lag("item_id").over(w)).filter(
        F.col("prev_item").isNotNull()
    )
    big = (
        seq.select(
            F.col("prev_item").alias("cur_item"),
            F.col("item_id").alias("next_item"),
        )
        .groupBy("cur_item", "next_item")
        .agg(F.count("*").alias("cnt"))
    )
    w_tot = W.partitionBy("cur_item")
    w_rank = W.partitionBy("cur_item").orderBy(
        F.col("cnt").desc(), "next_item"
    )
    return (
        big.withColumn(
            "prob",
            F.round(F.col("cnt").cast("double") / F.sum("cnt").over(w_tot), 6),
        )
        .withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= MARKOV_TOP_NEXT)
        .select("cur_item", "next_item", "cnt", "prob", "rnk")
    )


# --- recommendation coverage / popularity-bias report (X119) --------------

HEAD_PCTL = 0.9  # items at or above this popularity percentile = "head"


def _coverage_oracle() -> str:
    from ..registry import REGISTRY as _REG

    recs = _REG["recommend_top_k"].oracle
    return f"""
    WITH recs AS ({recs}),
    r2 AS MATERIALIZED ({RATINGS_SQL}),
    pop AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM r2 GROUP BY item_id),
    cut AS (SELECT ROUND(quantile_cont(cnt, {HEAD_PCTL}), 6) AS head_cut,
                   CAST(COUNT(*) AS BIGINT) AS n_catalog,
                   CAST(SUM(cnt) AS BIGINT) AS total_inter
            FROM pop)
    SELECT CAST(COUNT(DISTINCT recs.user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT recs.item_id) AS BIGINT) AS n_rec_items,
           ANY_VALUE(cut.n_catalog) AS n_catalog,
           ROUND(CAST(COUNT(DISTINCT recs.item_id) AS DOUBLE)
                 / ANY_VALUE(cut.n_catalog), 6) AS catalog_coverage,
           ROUND(AVG(CAST(pop.cnt AS DOUBLE) / cut.total_inter),
                 6) AS avg_pop_share,
           ROUND(AVG((pop.cnt >= cut.head_cut)::INT), 6)
               AS head_rate
    FROM recs
    JOIN pop ON recs.item_id = pop.item_id
    CROSS JOIN cut
    """


@query("recommendation_coverage", oracle=_coverage_oracle())
def recommendation_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X119: coverage / popularity-bias report over the recommend_top_k
    lists (X5) — catalog coverage (distinct recommended / catalog), mean
    popularity share of recommended items, and the head rate (fraction
    of recommendation slots filled by items at or above the HEAD_PCTL
    popularity percentile). THE standard recommender-audit companion to
    accuracy metrics: a model can win on NDCG while recommending the
    same popular head to everyone — this report is where that shows.
    Reuses the X5 query (and composes its ORACLE verbatim, so both
    engines audit the same lists); adds one item-keyed popularity agg, a
    1-row percentile-cut broadcast, and a single reduce."""
    from ..registry import REGISTRY as _REG

    recs = _REG["recommend_top_k"].fn(spark, sf_dir)
    r = _ratings_view(spark, sf_dir)
    pop = r.groupBy("item_id").agg(F.count("*").alias("cnt"))
    cut = pop.agg(
        F.round(F.expr(f"percentile(cnt, {HEAD_PCTL})"), 6).alias("head_cut"),
        F.count("*").alias("n_catalog"),
        F.sum("cnt").alias("total_inter"),
    )
    return (
        recs.join(pop, "item_id")
        .crossJoin(F.broadcast(cut))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("item_id").alias("n_rec_items"),
            F.any_value("n_catalog").alias("n_catalog"),
            F.round(
                F.countDistinct("item_id").cast("double")
                / F.any_value("n_catalog"),
                6,
            ).alias("catalog_coverage"),
            F.round(
                F.avg(F.col("cnt").cast("double") / F.col("total_inter")), 6
            ).alias("avg_pop_share"),
            F.round(
                F.avg((F.col("cnt") >= F.col("head_cut")).cast("int")), 6
            ).alias("head_rate"),
        )
    )


# KLL (k=200 default) rank error is ~1.65% at 99% confidence; the
# value-checked envelope asks only that the estimated quantile land within
# ±5 rank points of the true one, i.e. est_p50 ∈ [exact_p45, exact_p55] —
# a ~3x margin that is deterministically true for the sketch at any SF.
_KLL_PROBES = [0.45, 0.5, 0.55, 0.90, 0.95, 1.0]


@query(
    "kll_quantile_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
           ROUND(quantile_cont(value, 0.95), 6) AS exact_p95,
           CAST(1 AS BIGINT) AS p50_within_bound,
           CAST(1 AS BIGINT) AS p95_within_bound
    FROM events GROUP BY event_type
    """,
)
def kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch quantile rollup (Datasketches KLL) — the quantile
    twin of `hll_sketch_rollup`: per-(event_type, day) KLL sketches of
    `value` built in ONE pass at ingest grain, then merged per event_type
    (`kll_merge_agg_double`) and probed for p50/p95 — never rescanning the
    base data. Exact distributed quantiles need a full sort or a
    two-pass percentile; at 100 TB the persisted daily sketch table (a
    few KB per group) answers any later quantile question over any date
    range with a cheap merge, which exact per-day percentiles cannot do
    (quantiles don't add). Two keyed hash aggregates, both
    map-side-partial; the merge runs on |types|x|days| rows.

    KLL binaries are engine-specific, so the raw probe cannot be
    hash-compared against DuckDB; the query emits the exact quantiles
    plus bounded-rank-error FLAGS the oracle can also compute (est_p50
    within the exact [p45, p55] envelope; est_p95 within [p90, max]) —
    the same exact-branch-for-verification-only discipline as
    `hll_sketch_rollup`."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.kll_sketch_agg_double("value").alias("sk"), F.count("*").alias("n"))
    merged = daily.groupBy("event_type").agg(
        F.kll_merge_agg_double("sk").alias("sk"), F.sum("n").alias("n")
    )
    probes = merged.select(
        "event_type",
        "n",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("est_p50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("est_p95"),
    )
    exact = ev.groupBy("event_type").agg(
        F.expr(
            "percentile(value, array(" + ",".join(map(str, _KLL_PROBES)) + "))"
        ).alias("q")
    )
    return probes.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "n",
        F.round(F.col("q")[1], 6).alias("exact_p50"),
        F.round(F.col("q")[4], 6).alias("exact_p95"),
        F.col("est_p50")
        .between(F.col("q")[0], F.col("q")[2])
        .cast("long")
        .alias("p50_within_bound"),
        F.col("est_p95")
        .between(F.col("q")[3], F.col("q")[5])
        .cast("long")
        .alias("p95_within_bound"),
    )


# Theta default nominal entries k=4096: union RSE ~1.6%; intersection /
# difference absolute error scales with the UNION size (not the result
# size), so their envelopes are max(THETA_BOUND * exact_union, 5).
# Below k entries the sketch is in exact mode, so at test SFs the flags
# are deterministically 1 — the envelope is what holds at 100 TB.
THETA_BOUND = 0.05


@query(
    "theta_sketch_set_ops",
    oracle="""
    WITH f AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id)
    SELECT CAST(SUM(hv) AS BIGINT) AS exact_view,
           CAST(SUM(hp) AS BIGINT) AS exact_purchase,
           CAST(COUNT(*) AS BIGINT) AS exact_union,
           CAST(SUM(hv * hp) AS BIGINT) AS exact_inter,
           CAST(SUM(hv * (1 - hp)) AS BIGINT) AS exact_diff,
           CAST(1 AS BIGINT) AS union_within_bound,
           CAST(1 AS BIGINT) AS inter_within_bound,
           CAST(1 AS BIGINT) AS diff_within_bound
    FROM f
    """,
)
def theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set algebra on mergeable Theta sketches — the capability
    HLL lacks: besides union ("users who viewed OR purchased"), Theta
    sketches support INTERSECTION ("viewed AND purchased") and A-NOT-B
    ("viewed but never purchased") without rescanning or joining the base
    data. At 100 TB the per-segment sketch table replaces the user-keyed
    shuffle the exact form needs: sketches build map-side in one pass and
    set-combine in constant memory, turning audience-overlap analytics
    into sketch algebra. One scan, two conditional sketch aggregates
    (aggregates skip the CASE's NULLs), scalar two-arg combinators.

    Sketch binaries are engine-specific; the query emits the exact counts
    (one user-keyed agg, verification-only) plus bounded-error FLAGS —
    intersection/difference envelopes scale with the UNION cardinality,
    the honest Theta error model."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    sk = ev.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("sk_v"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("sk_p"),
    ).select(
        F.theta_sketch_estimate(F.theta_union("sk_v", "sk_p")).alias("est_union"),
        F.theta_sketch_estimate(F.theta_intersection("sk_v", "sk_p")).alias(
            "est_inter"
        ),
        F.theta_sketch_estimate(F.theta_difference("sk_v", "sk_p")).alias(
            "est_diff"
        ),
    )
    flags = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("hv"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("hp"),
    )
    exact = flags.agg(
        F.sum("hv").alias("exact_view"),
        F.sum("hp").alias("exact_purchase"),
        F.count("*").alias("exact_union"),
        F.sum(F.col("hv") * F.col("hp")).alias("exact_inter"),
        F.sum(F.col("hv") * (1 - F.col("hp"))).alias("exact_diff"),
    )
    env = F.greatest(F.lit(THETA_BOUND) * F.col("exact_union"), F.lit(5.0))
    bound = lambda est, exact: (  # noqa: E731
        F.abs(F.col(est) - F.col(exact)) <= env
    ).cast("long")
    return exact.crossJoin(F.broadcast(sk)).select(
        "exact_view",
        "exact_purchase",
        "exact_union",
        "exact_inter",
        "exact_diff",
        bound("est_union", "exact_union").alias("union_within_bound"),
        bound("est_inter", "exact_inter").alias("inter_within_bound"),
        bound("est_diff", "exact_diff").alias("diff_within_bound"),
    )


@query(
    "gaps_islands",
    oracle=f"""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day
        FROM events),
    d AS (
        SELECT user_id, day,
               CASE WHEN day - LAG(day) OVER (
                        PARTITION BY user_id ORDER BY day) = 1
                    THEN 0 ELSE 1 END AS new_island
        FROM days),
    i AS (
        SELECT user_id, day,
               CAST(SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY day) AS BIGINT) AS island_id
        FROM d)
    SELECT user_id, island_id,
           MIN(day) AS start_day, MAX(day) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           MAX(day) - MIN(day) + 1 AS span_days
    FROM i GROUP BY user_id, island_id
    """,
)
def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's active days into maximal
    consecutive runs (streak detection — the date-grain complement of
    `sessionize`'s timestamp-gap sessions). Classic three-step form: keyed
    lag to flag run starts, keyed running sum to number the runs, keyed
    agg to collapse them. Two keyed exchanges total — the (user_id, day)
    dedup, then one user_id exchange that BOTH windows and the final agg
    share — nothing global. Days are tz-free
    integer day numbers (floor(epoch/86400)) — no calendar functions; the
    only tz surface is the NTZ-parquet -> timestamp read, which `_utc`
    pins like every other events query."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    flagged = days.withColumn(
        "new_island",
        F.when(F.col("day") - F.lag("day").over(w) == 1, 0).otherwise(1),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("day").alias("start_day"),
        F.max("day").alias("end_day"),
        F.count("*").alias("n_days"),
        (F.max("day") - F.min("day") + 1).alias("span_days"),
    )


# approx_percentile's rank error is <= 1/accuracy; at ACC=1000 that is
# 0.1% of ranks. The value-checked envelope is the exact [p45, p55] /
# [p90, max] window — a ~50x margin, deterministically true at any SF.
APPROX_PCTL_ACC = 1000


@query(
    "approx_percentile_grouped",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
           ROUND(quantile_cont(value, 0.95), 6) AS exact_p95,
           CAST(1 AS BIGINT) AS p50_within_bound,
           CAST(1 AS BIGINT) AS p95_within_bound
    FROM events GROUP BY event_type
    """,
)
def approx_percentile_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group approximate percentiles (Greenwald-Khanna) — the
    unbounded-cardinality twin `agg_percentiles` documents: exact
    `percentile` buffers every value per group, approx_percentile holds a
    bounded summary, so at 100 TB with millions of groups only the
    approximation survives memory. Same one-pass promotion discipline as
    `agg_approx_distinct`/`kll_quantile_rollup`: the engine-specific
    estimate is emitted as exact values + bounded-RANK-error flags the
    oracle reproduces as constant 1 (est_p50 within exact [p45, p55],
    est_p95 within [p90, max]). Where this differs from
    `kll_quantile_rollup`: GK summaries are per-group one-shot, KLL
    sketches are MERGEABLE across rollup grains — both shapes exist for
    a reason."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    agged = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr(
            f"approx_percentile(value, array(0.5, 0.95), {APPROX_PCTL_ACC})"
        ).alias("est"),
        F.expr("percentile(value, array(0.45, 0.5, 0.55, 0.90, 0.95, 1.0))").alias(
            "q"
        ),
    )
    return agged.select(
        "event_type",
        "n",
        F.round(F.col("q")[1], 6).alias("exact_p50"),
        F.round(F.col("q")[4], 6).alias("exact_p95"),
        F.col("est")[0]
        .between(F.col("q")[0], F.col("q")[2])
        .cast("long")
        .alias("p50_within_bound"),
        F.col("est")[1]
        .between(F.col("q")[3], F.col("q")[5])
        .cast("long")
        .alias("p95_within_bound"),
    )


# Rolling-regression day origin (shared with trend_linear_fit's scaling
# discipline): x = days since 2024-01-01 keeps the regressor domain small
# so the slope's moment arithmetic never cancels catastrophically.
ROLL_TREND_WIN_D = 7


@query(
    "rolling_trend_window",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(FLOOR({EPOCH_TS} / 86400) - {TREND_EPOCH0 // 86400}
                    AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2)
    SELECT event_type, day,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
           ROUND(REGR_SLOPE(cnt, day) OVER w, 6) AS slope
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN {ROLL_TREND_WIN_D - 1} PRECEDING
                 AND CURRENT ROW)
    """,
)
def rolling_trend_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS slope per event type — `trend_linear_fit`'s
    moment aggregates moved into a time-RANGE window frame: a continuous
    'is this metric accelerating' monitor instead of one whole-history
    fit. The corpus collapses to |types|x|days| daily counts in ONE keyed
    agg first; the windowed regression then runs on that bounded table,
    partitioned by type — the frame never sees raw events. x is
    small-domain day numbers (days since 2024-01-01), the same scaling
    discipline as `trend_linear_fit`: with x ~ 2x10^4 the slope's
    Sxx moment would cancel catastrophically and engines would diverge;
    with x in [0, 60] both compute identical doubles."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400) - TREND_EPOCH0 // 86400)
        .cast("long")
        .alias("day"),
    ).agg(F.count("*").alias("cnt"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-(ROLL_TREND_WIN_D - 1), 0)
    )
    return d.select(
        "event_type",
        "day",
        F.count("*").over(w).alias("n_win"),
        F.round(F.expr("regr_slope(cnt, day)").over(w), 6).alias("slope"),
    )


@query(
    "set_ops_bag",
    oracle="""
    WITH ea AS (
        SELECT user_id FROM events WHERE event_type = 'view'
        EXCEPT ALL
        SELECT user_id FROM events WHERE event_type = 'click'),
    ia AS (
        SELECT user_id FROM events WHERE event_type = 'view'
        INTERSECT ALL
        SELECT user_id FROM events WHERE event_type = 'click')
    SELECT 'except_all' AS op, user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM ea GROUP BY user_id
    UNION ALL
    SELECT 'intersect_all', user_id, CAST(COUNT(*) AS BIGINT)
    FROM ia GROUP BY user_id
    """,
)
def set_ops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG (multiset) set operations — `set_ops` pins the DISTINCT forms;
    EXCEPT ALL / INTERSECT ALL are the multiplicity-preserving ones SQL
    pipelines actually reconcile row deltas with (occurrence counts matter:
    'views minus clicks PER USER', not 'users who viewed and never
    clicked'). Spark's exceptAll/intersectAll compile to the
    count-and-replicate plan (two keyed counts + a generate), which is
    also the only shape that scales — a sort-based bag difference would
    need a global order. Output is the per-user multiplicity table of
    each result."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "click").select("user_id")
    ea = (
        a.exceptAll(b)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "user_id", "n")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "user_id", "n")
    )
    return ea.unionByName(ia)


@query(
    "sketch_persist_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
           CAST(1 AS BIGINT) AS within_bound
    FROM events GROUP BY event_type
    """,
)
def sketch_persist_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch story made REAL end-to-end: the per-(type,
    day) HLL sketch table is WRITTEN TO PARQUET (binary sketch column),
    read back cold, and only then union-merged per type — proving the
    persisted daily sketch table, not the raw events, answers later
    distinct questions. This is the half `hll_sketch_rollup` asserts but
    doesn't exercise: sketches must survive serialization to storage and
    re-merge bit-correctly, or the whole persist-the-sketch-table
    pattern at 100 TB is fiction. Same exact-count + bounded-error-flag
    promotion; the exact branch reads the raw events ONLY for
    verification."""
    import os

    from .relational import IO_DIR

    _utc(spark)
    path = f"{IO_DIR}/hll_daily_sketches"
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    daily.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    rolled = stored.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count("*").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return rolled.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "exact_users",
        "n_days",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(
                F.lit(HLL_ROLLUP_BOUND) * F.col("exact_users"), F.lit(3.0)
            )
        )
        .cast("long")
        .alias("within_bound"),
    )


@query(
    "nth_value_suite",
    oracle="""
    WITH w AS (
        SELECT o_custkey, o_orderkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               ROW_NUMBER() OVER win AS rn,
               CAST(nth_value(o_orderkey, 2) OVER win AS BIGINT)
                   AS second_best_order,
               CAST(first_value(o_orderkey) OVER win AS BIGINT)
                   AS best_order
        FROM orders
        WINDOW win AS (PARTITION BY o_custkey
                       ORDER BY ROUND(o_totalprice * 100, 0) DESC, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING))
    SELECT o_custkey, o_orderkey, cents, second_best_order, best_order
    FROM w WHERE rn = 1
    """,
)
def nth_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional window values (first_value / nth_value) — 'the
    customer's best and SECOND-best order' without two rank passes: an
    unbounded frame over the keyed sort exposes any position to every
    row, then one row per key survives. The frame is the trap pinned
    here: nth_value over the DEFAULT frame (unbounded-preceding to
    CURRENT ROW) returns NULL until row n arrives — the unbounded
    FOLLOWING bound is what makes position 2 visible from row 1, and
    forgetting it is the classic silent-NULL window bug. Ordering is on
    integer cents with an orderkey tiebreak — deterministic positions
    on both engines."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    win = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("cents").desc(), "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    base = o.select("o_custkey", "o_orderkey", cents.alias("cents"))
    ranked = base.select(
        "o_custkey",
        "o_orderkey",
        "cents",
        F.row_number()
        .over(
            W.partitionBy("o_custkey").orderBy(F.col("cents").desc(), "o_orderkey")
        )
        .alias("rn"),
        F.nth_value("o_orderkey", 2).over(win).alias("second_best_order"),
        F.first("o_orderkey").over(win).alias("best_order"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "o_custkey", "o_orderkey", "cents", "second_best_order", "best_order"
    )


@query(
    "events_since_purchase",
    oracle=f"""
    WITH g AS (
        SELECT event_id, user_id, event_type, {EPOCH_TS} AS t,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS purchase_epoch
        FROM events)
    SELECT event_id, user_id, event_type, CAST(t AS BIGINT) AS t,
           purchase_epoch,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id, purchase_epoch
                                   ORDER BY t, event_id) - 1 AS BIGINT)
               AS n_since_purchase
    FROM g
    """,
)
def events_since_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESETTABLE running count — 'events since this user's last
    purchase', the engagement-recency feature whose naive form is a
    per-row correlated lookup: a running purchase count partitions each
    user's stream into inter-purchase EPOCHS (the gaps-and-islands
    move with a semantic boundary instead of a calendar gap), and a
    row_number within (user, epoch) is the reset counter — purchases
    themselves start epoch N with counter 0. Both windows ride the same
    user_id exchange; the second is sub-partitioned, not re-shuffled
    (epoch is derived per-user). Deterministic event_id tiebreaks
    throughout."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_id", "user_id", "event_type", t.alias("t"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("purchase_epoch"),
    )
    w2 = W.partitionBy("user_id", "purchase_epoch").orderBy("t", "event_id")
    return g.withColumn(
        "n_since_purchase", (F.row_number().over(w2) - 1).cast("long")
    )


@query(
    "pivot_multi_measure",
    oracle="""
    SELECT user_id % 50 AS user_bucket,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS click_n,
           ROUND(COALESCE(SUM(value) FILTER (WHERE event_type = 'click'), 0),
                 6) AS click_sum,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS purchase_n,
           ROUND(COALESCE(SUM(value) FILTER (WHERE event_type = 'purchase'),
                 0), 6) AS purchase_sum
    FROM events GROUP BY 1
    """,
)
def pivot_multi_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-MEASURE pivot: each pivoted value yields a count AND a sum
    column pair in one aggregate pass — `pivot_events` pins the
    single-measure form; production feature tables always want several
    measures per cell, and the trap is running one pivot per measure
    (one pass per measure over 100 TB). Spark's pivot(...).agg(m1, m2)
    fuses them; missing cells COALESCE to 0/0.0 so the wide schema is
    total. Still ONE keyed exchange."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.withColumn("user_bucket", F.col("user_id") % 50)
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "purchase"])
        # count(lit(1)), not count("*"): star expansion doesn't resolve
        # inside pivot's per-value aggregate rewriting
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum"),
        )
    )
    return out.select(
        "user_bucket",
        F.coalesce(F.col("click_n"), F.lit(0)).cast("long").alias("click_n"),
        F.coalesce(F.col("click_sum"), F.lit(0.0)).alias("click_sum"),
        F.coalesce(F.col("purchase_n"), F.lit(0)).cast("long").alias("purchase_n"),
        F.coalesce(F.col("purchase_sum"), F.lit(0.0)).alias("purchase_sum"),
    )


ROLL_Z_WIN_D = 14


@query(
    "rolling_zscore",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    s AS (
        SELECT event_type, day, cnt,
               AVG(cnt) OVER w AS mu,
               STDDEV_SAMP(cnt) OVER w AS sd,
               COUNT(*) OVER w AS n_win
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     RANGE BETWEEN {ROLL_Z_WIN_D} PRECEDING
                     AND 1 PRECEDING))
    SELECT event_type, day, cnt, CAST(n_win AS BIGINT) AS n_win,
           ROUND((cnt - mu) / sd, 6) AS z
    FROM s WHERE n_win >= 7 AND sd > 0
    """,
)
def rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAILING-window z-score — today's count against the preceding
    {ROLL_Z_WIN_D} days' mean/std, the frame EXCLUDING the current row
    (RANGE … 1 PRECEDING): the leakage rule — a spike that inflates its
    own baseline hides itself, the subtle bug in most hand-rolled
    monitors (`anomaly_zscore` uses global stats; this is the
    concept-drift-proof form). Frame moments run over the COLLAPSED
    daily table partitioned by type; warm-up rows (fewer than 7
    baseline days) and zero-variance frames are excluded rather than
    emitting infinities."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(F.count("*").alias("cnt"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-ROLL_Z_WIN_D, -1)
    )
    s = d.select(
        "event_type",
        "day",
        "cnt",
        F.avg("cnt").over(w).alias("mu"),
        F.stddev_samp("cnt").over(w).alias("sd"),
        F.count("*").over(w).alias("n_win"),
    )
    return s.filter((F.col("n_win") >= 7) & (F.col("sd") > 0)).select(
        "event_type",
        "day",
        "cnt",
        F.col("n_win").cast("long").alias("n_win"),
        F.round((F.col("cnt") - F.col("mu")) / F.col("sd"), 6).alias("z"),
    )


@query(
    "weighted_moving_avg",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    l AS (
        SELECT event_type, day, cnt,
               LAG(cnt, 1) OVER w AS c1,
               LAG(cnt, 2) OVER w AS c2
        FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day, cnt,
           ROUND((3 * cnt + 2 * c1 + 1 * c2) / 6.0, 6) AS wma3
    FROM l WHERE c2 IS NOT NULL
    """,
)
def weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted moving average (WMA-3: weights 3/2/1 on the
    most-recent days) — the smoother that reacts faster than a plain
    rolling mean because recency carries more weight, but unlike
    `user_ewma`'s infinite-memory recurrence it is a FIXED-k windowed
    expression: explicit lags compose it in pure SQL (one keyed window,
    no Arrow, no state), which is the right trade whenever k is small
    and fixed. Integer numerator, ONE division — deterministic; warm-up
    rows without a full window are excluded, not zero-padded."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(F.count("*").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type", "day", "cnt",
        F.lag("cnt", 1).over(w).alias("c1"),
        F.lag("cnt", 2).over(w).alias("c2"),
    )
    return l.filter(F.col("c2").isNotNull()).select(
        "event_type",
        "day",
        "cnt",
        F.round(
            (3 * F.col("cnt") + 2 * F.col("c1") + F.col("c2")) / 6.0, 6
        ).alias("wma3"),
    )


# Dynamic per-event session gaps: purchases hold a session open longer.
DYN_GAP_PURCHASE_S = 3600
DYN_GAP_DEFAULT_S = 1800


@query(
    "session_window_dynamic_gap",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, {EPOCH_TS} AS t,
               CASE WHEN event_type = 'purchase'
                    THEN {DYN_GAP_PURCHASE_S}
                    ELSE {DYN_GAP_DEFAULT_S} END AS gap
        FROM events),
    m AS (
        SELECT user_id, t,
               MAX(t + gap) OVER (
                   PARTITION BY user_id ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS max_end_before
        FROM e),
    g AS (
        SELECT user_id, t,
               CASE WHEN max_end_before IS NULL OR t >= max_end_before
                    THEN 1 ELSE 0 END AS new_sess
        FROM m),
    s AS (
        SELECT user_id, t,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g)
    SELECT user_id, CAST(MIN(t) AS BIGINT) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows: the inactivity timeout depends on
    the EVENT (a purchase holds its session open for 1h, everything
    else 30min — engagement-weighted sessionization; mobile-vs-web
    timeouts are the other classic). `F.session_window` accepts a gap
    EXPRESSION, merging overlapping [t, t+gap(event)] intervals inside
    one hash aggregate. The oracle is the sweep form: a session breaks
    where t reaches the running max of all previous events' window
    ends — note a RUNNING MAX, not a lag against the previous event
    (a long-gap event can hold the session open across several
    short-gap ones; the lag form is simply wrong here). Timestamps
    truncated to whole seconds pre-agg, per `session_window_native`."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.timestamp_seconds(F.unix_timestamp("ts")).alias("tss"),
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit(f"{DYN_GAP_PURCHASE_S} seconds")
    ).otherwise(F.lit(f"{DYN_GAP_DEFAULT_S} seconds"))
    return (
        ev.groupBy(F.session_window("tss", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            "n",
        )
    )


PDISC_PCTS = [25, 50, 75, 95]  # integer percents: targets stay exact


@query(
    "percentile_disc_exact",
    oracle=f"""
    WITH src AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
    hist AS (SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS c
             FROM src GROUP BY grp, cents),
    cum AS (SELECT grp, cents,
                   SUM(c) OVER (PARTITION BY grp ORDER BY cents) AS cm,
                   SUM(c) OVER (PARTITION BY grp) AS n
            FROM hist),
    t AS (SELECT grp, cents, cm, CAST(u.pct AS INT) AS pct,
                 (u.pct * n + 99) // 100 AS target
          FROM cum CROSS JOIN (SELECT UNNEST({PDISC_PCTS!r}) AS pct) u)
    SELECT grp, pct, ROUND(CAST(MIN(cents) AS DOUBLE) / 100, 6) AS disc_value
    FROM t WHERE cm >= target GROUP BY grp, pct
    """,
)
def percentile_disc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X244: EXACT discrete percentiles (PERCENTILE_DISC semantics —
    the smallest actual data value whose cumulative count reaches
    ceil(p·n)) of order value per priority class. The cont/disc split
    matters operationally: interpolated percentiles invent values that
    never occurred (a nonsense "order total"), while disc answers "what
    did the p-th real order cost". Spark has exact cont (`percentile`)
    and approximate disc (`approx_percentile`) built in, but no exact
    disc aggregate — composed here scalably: collapse rows to a per-group
    VALUE HISTOGRAM first (the only full-data shuffle, combine-friendly),
    then run the cumulative window over |distinct values| histogram rows,
    not raw rows — at 100 TB the window input is compression-bounded
    (money values repeat), and the rank targets (p·n + 99)//100 are pure
    integer arithmetic (ceil(0.95·n) through doubles is an off-by-one
    trap when 0.95·n lands on an ULP boundary). Emits the full
    group × percentile grid in one pass — no per-p re-aggregation."""
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    hist = src.groupBy("grp", "cents").agg(F.count("*").alias("c"))
    w_cum = W.partitionBy("grp").orderBy("cents")
    w_all = W.partitionBy("grp")
    cum = hist.select(
        "grp",
        "cents",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_all).alias("n"),
    )
    pcts = F.explode(F.array(*[F.lit(p) for p in PDISC_PCTS])).alias("pct")
    t = cum.select("grp", "cents", "cm", "n", pcts).withColumn(
        "target", F.expr("(pct * n + 99) DIV 100")
    )
    return (
        t.filter(F.col("cm") >= F.col("target"))
        .groupBy("grp", "pct")
        .agg(F.round(F.min("cents").cast("double") / 100, 6).alias("disc_value"))
    )


@query(
    "recs_novelty",
    oracle=f"""
    WITH r AS ({{RATINGS}}),
    train AS (SELECT * FROM r WHERE interaction_id % 10 < 7),
    mu AS (SELECT ROUND(AVG(rating), 6) AS mu FROM train),
    ub AS (SELECT user_id, ROUND(AVG(rating) - (SELECT mu FROM mu), 6) AS bu
           FROM train GROUP BY user_id),
    ib AS (SELECT item_id, ROUND(AVG(rating) - (SELECT mu FROM mu), 6) AS bi
           FROM train GROUP BY item_id),
    users AS (SELECT user_id, bu FROM ub WHERE user_id % 29 = 0),
    -- same containment prune as the engine side (see recommend_top_k):
    -- score = mu + bu + bi is additive, so per-user rank order equals
    -- (bi DESC, item_id) order up to 1e-6 rounding collisions, and the
    -- margin pool contains every user's top-k. The unpruned
    -- users x catalog cross join is ~1e9 rows at the 10x sweep.
    pool AS MATERIALIZED (
        SELECT item_id, bi FROM ib
        ORDER BY bi DESC, item_id LIMIT {RECO_POOL}),
    {RECO_GUARD_SQL},
    scored AS (
        SELECT u.user_id, i.item_id,
               ROUND((SELECT mu FROM mu) + u.bu + i.bi, 6) AS score
        FROM users u CROSS JOIN pool i),
    recs AS (
        SELECT user_id, item_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY score DESC, item_id) AS rnk
            FROM scored)
        WHERE rnk <= {RECO_TOP_K}),
    pop AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS c
            FROM train GROUP BY item_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pop),
    head AS (
        SELECT item_id FROM (
            SELECT item_id, ROW_NUMBER() OVER (ORDER BY c DESC, item_id) AS pr,
                   (SELECT n FROM tot) AS m
            FROM pop)
        WHERE pr <= (m + 9) // 10),
    tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM pop)
    SELECT r.user_id,
           ROUND(AVG(log2(CAST((SELECT t FROM tt) AS DOUBLE))
                     - log2(CAST(p.c AS DOUBLE))), 6) AS novelty_bits,
           CAST(SUM(CASE WHEN h.item_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tail,
           ROUND(CAST(SUM(CASE WHEN h.item_id IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / {RECO_TOP_K}, 6) AS tail_share
    FROM recs r
    JOIN pop p ON r.item_id = p.item_id
    LEFT JOIN head h ON r.item_id = h.item_id
    GROUP BY r.user_id
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS DOUBLE), CAST(-1 AS BIGINT),
           CAST(-1 AS DOUBLE)
    WHERE (SELECT COUNT(*) FROM boundary) = 2
      AND (SELECT MAX(bi) - MIN(bi) FROM boundary) BETWEEN 1e-12 AND 2e-6
    """.replace("{RATINGS}", RATINGS_SQL),
)
def recs_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X247: novelty / popularity-bias audit of the top-k recommendation
    lists — the beyond-accuracy metrics (Vargas & Castells 2011) that
    catch a recommender collapsed onto the head of the catalog: per-user
    mean self-information −log2(p_item) of the recommended items
    (novelty_bits) and the share drawn from outside the most-popular
    decile (tail_share). Consumes recommend_top_k's actual output, so a
    green row certifies list METRICS, not a re-derivation. Numerics: the
    log arguments are exact integer counts (the session_entropy
    factoring, log2(total) − log2(c)); the popular-head cut is a
    TakeOrderedAndProject top-⌈m/10⌉ (driver holds one integer m — never
    a global rank window), and head membership is a broadcast-sized LEFT
    join. At 100 TB: popularity is one keyed agg of the train facts; recs
    are users×k rows; everything downstream is rec-list-sized."""
    from ..data import ratings_cached

    recs = recommend_top_k(spark, sf_dir).select("user_id", "item_id")
    r = ratings_cached(spark, sf_dir)
    train = r.filter(F.col("interaction_id") % 10 < 7)
    pop = train.groupBy("item_id").agg(F.count("*").alias("c")).persist()
    m = pop.count()
    total = pop.agg(F.sum("c")).first()[0]
    head = (
        pop.orderBy(F.col("c").desc(), F.col("item_id"))
        .limit((m + 9) // 10)
        .select("item_id", F.lit(True).alias("is_head"))
    )
    nov = F.log2(F.lit(float(total))) - F.log2(F.col("c").cast("double"))
    out = (
        recs.join(pop, "item_id")
        .join(F.broadcast(head), "item_id", "left")
        .groupBy("user_id")
        .agg(
            F.round(F.avg(nov), 6).alias("novelty_bits"),
            F.sum(F.col("is_head").isNull().cast("long")).alias("n_tail"),
            F.round(
                F.sum(F.col("is_head").isNull().cast("long")).cast("double")
                / RECO_TOP_K,
                6,
            ).alias("tail_share"),
        )
    )
    return out


MMR_POOL = 20  # candidate pool per user (global top items by bias)
MMR_PICKS = 5  # final list length
MMR_PENALTY = 0.5  # redundancy penalty (dyadic => exact float subtract)


def _mmr_oracle() -> str:
    """Greedy MMR selection as unrolled steps (one CTE pair per pick):
    at step k a candidate's adjusted score is its model score minus
    {MMR_PENALTY} if its brand is already in the user's selected set
    (binary max-similarity), and the (adjusted DESC, item_id) argmax
    joins the selection.

    train/cands/acc{{k}} are MATERIALIZED: each acc{{k}} is referenced
    three times by the next pick (EXISTS, NOT EXISTS, union) and cands
    once per pick, so DuckDB's default CTE inlining re-derived the
    md5-heavy 6M-row ratings chain combinatorially — >15 min at sf1 vs
    39 s materialized (identical rows; pure evaluation-order hint)."""
    base = f"""
WITH r AS MATERIALIZED ({RATINGS_SQL}),
train AS MATERIALIZED (SELECT * FROM r WHERE interaction_id % 10 < 7),
mu AS (SELECT ROUND(AVG(rating), 6) AS mu FROM train),
ub AS (SELECT user_id, ROUND(AVG(rating) - (SELECT mu FROM mu), 6) AS bu
       FROM train GROUP BY user_id),
ib AS (SELECT item_id, ROUND(AVG(rating) - (SELECT mu FROM mu), 6) AS bi
       FROM train GROUP BY item_id),
pool AS (SELECT item_id, bi FROM ib
         ORDER BY bi DESC, item_id LIMIT {MMR_POOL}),
cands AS MATERIALIZED (
    SELECT u.user_id, p.item_id, pt.p_type AS sim_attr,
           ROUND((SELECT mu FROM mu) + u.bu + p.bi, 6) AS score
    FROM (SELECT user_id, bu FROM ub WHERE user_id % 29 = 0) u
    CROSS JOIN pool p
    JOIN part pt ON p.item_id = pt.p_partkey),
sel1 AS (
    SELECT user_id, item_id, sim_attr, score, score AS adjusted, 1 AS pos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY score DESC, item_id) AS rn FROM cands) t
    WHERE rn = 1),
acc1 AS MATERIALIZED (SELECT * FROM sel1)"""
    parts = [base]
    for k in range(2, MMR_PICKS + 1):
        parts.append(
            f""",
adj{k} AS (
    SELECT c.user_id, c.item_id, c.sim_attr, c.score,
           c.score - CASE WHEN EXISTS (
               SELECT 1 FROM acc{k - 1} s
               WHERE s.user_id = c.user_id AND s.sim_attr = c.sim_attr)
               THEN {MMR_PENALTY} ELSE 0 END AS adjusted
    FROM cands c
    WHERE NOT EXISTS (SELECT 1 FROM acc{k - 1} s
                      WHERE s.user_id = c.user_id
                        AND s.item_id = c.item_id)),
sel{k} AS (
    SELECT user_id, item_id, sim_attr, score, adjusted, {k} AS pos
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY adjusted DESC, item_id) AS rn FROM adj{k}) t
    WHERE rn = 1),
acc{k} AS MATERIALIZED (SELECT * FROM acc{k - 1} UNION ALL SELECT * FROM sel{k})"""
        )
    parts.append(
        f"""
SELECT user_id, CAST(pos AS BIGINT) AS pos, item_id, sim_attr,
       score, adjusted
FROM acc{MMR_PICKS} ORDER BY user_id, pos"""
    )
    return "".join(parts)


@query("mmr_rerank", oracle=_mmr_oracle())
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X271: Maximal-Marginal-Relevance re-ranking (Carbonell &
    Goldstein '98) — the diversity stage every production recommender
    runs between scoring and serving: greedily build the final list,
    at each step discounting candidates whose part TYPE (6 values — coarse
    enough that the penalty genuinely binds) is already represented (binary max-similarity, penalty {MMR_PENALTY}). The
    measurement twins are recs_novelty / recommendation_coverage —
    this is the OPERATOR that moves those metrics. Determinism: model
    scores are the shared 6dp-rounded bias model, the penalty is
    dyadic (exact float subtract), and every argmax carries the
    item_id tiebreak, so the greedy trajectory cannot fork
    cross-engine; the oracle unrolls the {MMR_PICKS} picks as CTE
    pairs. Plan: the candidate pool is the SAME exact containment
    prune as recommend_top_k (global top-{MMR_POOL} by item bias,
    broadcast), then per pick one user-keyed anti-join + brand
    semi-flag + user-keyed argmax window over ≤{MMR_POOL} rows/user —
    bounded work per user independent of catalog size."""
    r = _ratings_view(spark, sf_dir)
    train = r.filter(F.col("interaction_id") % 10 < 7).persist()
    mu = train.agg(F.round(F.avg("rating"), 6).alias("mu"))
    ub = (
        train.crossJoin(F.broadcast(mu))
        .groupBy("user_id")
        .agg(F.round(F.avg("rating") - F.first("mu"), 6).alias("bu"))
    )
    ib = (
        train.crossJoin(F.broadcast(mu))
        .groupBy("item_id")
        .agg(F.round(F.avg("rating") - F.first("mu"), 6).alias("bi"))
    )
    pool = ib.orderBy(F.col("bi").desc(), F.col("item_id")).limit(MMR_POOL)
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_type").alias("sim_attr")
    )
    cands = (
        ub.filter(F.col("user_id") % 29 == 0)
        .crossJoin(F.broadcast(pool))
        .crossJoin(F.broadcast(mu))
        .join(F.broadcast(part), F.col("item_id") == F.col("p_partkey"))
        .select(
            "user_id",
            "item_id",
            "sim_attr",
            F.round(F.col("mu") + F.col("bu") + F.col("bi"), 6).alias("score"),
        )
    )
    return mmr_from_candidates(checkpoint(cands))


def mmr_from_candidates(cands: DataFrame) -> DataFrame:
    """Greedy MMR selection over a (user_id, item_id, sim_attr, score)
    candidate frame — split out of mmr_rerank so planted-fixture tests can
    drive the greedy loop with candidate sets where the redundancy penalty
    provably fires (whether it fires on the derived ratings is an accident
    of the testdata generation)."""
    w1 = W.partitionBy("user_id").orderBy(F.col("score").desc(), "item_id")
    sel = (
        cands.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "item_id", "sim_attr", "score",
            F.col("score").alias("adjusted"), F.lit(1).alias("pos"),
        )
    )
    acc = sel
    for k in range(2, MMR_PICKS + 1):
        rem = cands.join(
            acc.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
        )
        seen = acc.select("user_id", "sim_attr").distinct().withColumn(
            "seen", F.lit(1)
        )
        adj = rem.join(seen, ["user_id", "sim_attr"], "left").select(
            "user_id",
            "item_id",
            "sim_attr",
            "score",
            (
                F.col("score")
                - F.when(F.col("seen") == 1, F.lit(MMR_PENALTY)).otherwise(0.0)
            ).alias("adjusted"),
        )
        wk = W.partitionBy("user_id").orderBy(F.col("adjusted").desc(), "item_id")
        pick = (
            adj.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .select(
                "user_id", "item_id", "sim_attr", "score", "adjusted",
                F.lit(k).alias("pos"),
            )
        )
        new_acc = checkpoint(acc.unionByName(pick))
        # the superseded accumulator's blocks are dead once the union has
        # materialized (the pagerank discipline, ADVICE r08); round 1's
        # acc is not a checkpoint — release_checkpoint ignores it
        release_checkpoint(acc)
        acc = new_acc
    return acc.select(
        "user_id", F.col("pos").cast("long").alias("pos"),
        "item_id", "sim_attr", "score", "adjusted",
    ).orderBy("user_id", "pos")


CM_W = 32  # count-min width (buckets per hash row)
CM_D = 4  # count-min depth (independent hash rows)


@query(
    "countmin_sketch_rollup",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(user_id AS BIGINT) AS uid, event_type AS etype
        FROM events),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ev),
    e4 AS (
        SELECT CAST(gj AS BIGINT) AS j,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('cm' || gj || '|' || uid || ':' || etype), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % {CM_W} AS bucket
        FROM ev CROSS JOIN (SELECT UNNEST(range({CM_D})) AS gj) g),
    counters AS (
        SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM e4 GROUP BY 1, 2),
    truec AS (
        SELECT uid, etype, CAST(COUNT(*) AS BIGINT) AS true_cnt
        FROM ev GROUP BY 1, 2),
    cand AS (
        SELECT uid, etype, true_cnt, CAST(gj AS BIGINT) AS j,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('cm' || gj || '|' || uid || ':' || etype), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % {CM_W} AS bucket
        FROM truec CROSS JOIN (SELECT UNNEST(range({CM_D})) AS gj) g),
    est AS (
        SELECT uid, etype, MAX(true_cnt) AS true_cnt,
               MIN(c) AS cm_estimate
        FROM cand JOIN counters USING (j, bucket) GROUP BY 1, 2)
    SELECT uid AS user_id, etype AS event_type, true_cnt, cm_estimate,
           cm_estimate - true_cnt AS over_cnt,
           (cm_estimate - true_cnt) * {100 * CM_W} <= 272 * n_total
               AS within_bound,
           n_total
    FROM est, tot
    ORDER BY user_id, event_type
    """,
)
def countmin_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X290: count-min sketch build → merge → point-query, completing
    the mergeable-sketch family (hll_sketch_rollup: distinct counts;
    kll_quantile_rollup: quantiles; theta_sketch_set_ops: set algebra;
    here: frequency estimates — Cormode & Muthukrishnan 2005). Depth
    {CM_D} × width {CM_W} counters; the hash family is the engine's
    portable 60-bit md5 (dedup.py h60) salted per row, so the DuckDB
    oracle recomputes EVERY counter and every point query exactly — the
    same all-values promotion hll/kll got. Build is two-level to pin
    mergeability: per-week partial sketches (map-side combine collapses
    each partition to ≤ {CM_D}·{CM_W} rows before the shuffle) summed
    into the global sketch — counter-sum associativity IS the merge, and
    any merge bug lands in the value hash. Query side: every
    (user, event_type) key joins its {CM_D} counters, estimate = MIN.
    Pinned invariants (tests): cm_estimate ≥ true_cnt ALWAYS (min of
    superset sums), and the classical ε = e/w bound as pure-integer
    arithmetic — over_cnt·100·w ≤ 272·N (both branches fire: ~9% of
    sf0.001 keys have a collision-free row ⇒ over_cnt = 0, the rest
    overestimate). At 100 TB: sketch build is ONE bounded-output keyed
    agg over a {CM_D}×-exploded scan; the query join keys on (j, bucket)
    against {CM_D * CM_W} broadcast rows — no data-sized shuffle beyond
    the per-key rollup the exact answer needs anyway."""
    from .dedup import h60_spark

    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("uid"),
        F.col("event_type").alias("etype"),
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT) DIV 604800").alias("wk"),
    )

    def cm_hash(j_col, uid_col, etype_col):
        return F.pmod(
            h60_spark(
                F.concat(
                    F.lit("cm"),
                    j_col.cast("string"),
                    F.lit("|"),
                    uid_col.cast("string"),
                    F.lit(":"),
                    etype_col,
                )
            ),
            F.lit(CM_W),
        )

    e4 = ev.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1)))
    ).select(
        "wk",
        F.col("j").cast("long").alias("j"),
        cm_hash(F.col("j"), F.col("uid"), F.col("etype")).alias("bucket"),
    )
    # per-week partial sketches, then the merge — counter sums are
    # associative, so the two-level plan equals the one-shot build and
    # any merge defect shows up in the value hash
    wk_counters = e4.groupBy("wk", "j", "bucket").agg(F.count("*").alias("c"))
    counters = wk_counters.groupBy("j", "bucket").agg(F.sum("c").alias("c"))

    truec = ev.groupBy("uid", "etype").agg(F.count("*").alias("true_cnt"))
    n_df = ev.agg(F.count("*").alias("n_total"))
    cand = truec.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1)))
    ).select(
        "uid",
        "etype",
        "true_cnt",
        F.col("j").cast("long").alias("j"),
        cm_hash(F.col("j"), F.col("uid"), F.col("etype")).alias("bucket"),
    )
    est = (
        cand.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("uid", "etype")
        .agg(
            F.max("true_cnt").alias("true_cnt"),
            F.min("c").alias("cm_estimate"),
        )
    )
    return (
        est.crossJoin(F.broadcast(n_df))
        .select(
            F.col("uid").alias("user_id"),
            F.col("etype").alias("event_type"),
            "true_cnt",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("true_cnt")).alias("over_cnt"),
            (
                (F.col("cm_estimate") - F.col("true_cnt")) * (100 * CM_W)
                <= 272 * F.col("n_total")
            ).alias("within_bound"),
            "n_total",
        )
        .orderBy("user_id", "event_type")
    )


def _ild_oracle() -> str:
    from ..registry import REGISTRY as _REG

    recs = _REG["recommend_top_k"].oracle
    return f"""
    WITH recs AS ({recs}),
    attr AS (
        SELECT recs.user_id, p.p_brand, p.p_type
        FROM recs JOIN part p ON recs.item_id = p.p_partkey),
    per_brand AS (
        SELECT user_id, p_brand, CAST(COUNT(*) AS BIGINT) AS c
        FROM attr GROUP BY 1, 2),
    per_type AS (
        SELECT user_id, p_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM attr GROUP BY 1, 2),
    u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM attr GROUP BY 1),
    sb AS (SELECT user_id, CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS same_b
           FROM per_brand GROUP BY 1),
    st AS (SELECT user_id, CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS same_t
           FROM per_type GROUP BY 1)
    SELECT u.user_id, u.n AS n_items,
           CAST(u.n * (u.n - 1) / 2 AS BIGINT) AS total_pairs,
           sb.same_b AS same_brand_pairs,
           st.same_t AS same_type_pairs,
           ROUND(1 - CAST(sb.same_b AS DOUBLE) / (u.n * (u.n - 1) / 2), 6)
               AS ild_brand,
           ROUND(1 - CAST(st.same_t AS DOUBLE) / (u.n * (u.n - 1) / 2), 6)
               AS ild_type
    FROM u JOIN sb ON u.user_id = sb.user_id
    JOIN st ON u.user_id = st.user_id
    ORDER BY u.user_id
    """


@query("recs_intra_list_diversity", oracle=_ild_oracle())
def recs_intra_list_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X312: intra-list diversity of the recommend_top_k lists — the
    third beyond-accuracy audit, completing the triad
    (recommendation_coverage: catalog/popularity bias; recs_novelty:
    unexpectedness; HERE: within-list variety, Ziegler 2005's ILD in
    its categorical form): 1 − (same-attribute pairs / all pairs) per
    user list, over both brand and type attributes. mmr_rerank
    OPTIMIZES this quantity; this op MEASURES it, so the two compose
    into the standard diversify-then-audit loop. Pure integer
    combinatorics: per-attribute counts c give same-pairs Σ C(c,2)
    against C(n,2) totals — the only float is the final rounded
    ratio, emitted beside all four raw integers. Composes the X5
    oracle verbatim (both engines audit the SAME lists). Pinned
    (tests): pair conservation (same + cross = C(n,2) via independent
    recount), ILD ∈ [0,1], and brand-ILD ≥ type-ILD on this fixture
    (25 brands vs 6 types — finer attributes diversify more). Plan:
    recs (bounded user sample × k) join a broadcast part dim, three
    bounded keyed aggs — free next to the recs query itself."""
    from ..registry import REGISTRY as _REG

    recs = _REG["recommend_top_k"].fn(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item_id"), "p_brand", "p_type"
    )
    attr = recs.join(F.broadcast(p), "item_id").select(
        "user_id", "p_brand", "p_type"
    )
    u = attr.groupBy("user_id").agg(F.count("*").alias("n_items"))
    same = {}
    for col, alias in (("p_brand", "same_b"), ("p_type", "same_t")):
        per = attr.groupBy("user_id", col).agg(F.count("*").alias("c"))
        same[alias] = per.groupBy("user_id").agg(
            F.sum(F.expr("c * (c - 1) DIV 2")).alias(alias)
        )
    total_pairs = F.expr("n_items * (n_items - 1) DIV 2")
    return (
        u.join(same["same_b"], "user_id")
        .join(same["same_t"], "user_id")
        .select(
            "user_id",
            "n_items",
            total_pairs.alias("total_pairs"),
            F.col("same_b").alias("same_brand_pairs"),
            F.col("same_t").alias("same_type_pairs"),
            F.round(
                1 - F.col("same_b").cast("double") / total_pairs, 6
            ).alias("ild_brand"),
            F.round(
                1 - F.col("same_t").cast("double") / total_pairs, 6
            ).alias("ild_type"),
        )
        .orderBy("user_id")
    )


FUNNEL_WF_T = 3600  # the whole funnel must fit in this many seconds


@query(
    "funnel_within_window",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
        FROM events),
    users AS (SELECT DISTINCT user_id FROM ev),
    v AS (SELECT user_id, s FROM ev WHERE event_type = 'view'),
    c AS (SELECT user_id, s FROM ev WHERE event_type = 'click'),
    p AS (SELECT user_id, s FROM ev WHERE event_type = 'purchase'),
    d1 AS (SELECT DISTINCT user_id FROM v),
    vc AS (
        SELECT DISTINCT v.user_id, v.s AS v_s, c.s AS c_s
        FROM v JOIN c ON c.user_id = v.user_id
                     AND c.s >= v.s AND c.s <= v.s + {FUNNEL_WF_T}),
    d2 AS (SELECT DISTINCT user_id FROM vc),
    d3 AS (
        SELECT DISTINCT vc.user_id
        FROM vc JOIN p ON p.user_id = vc.user_id
                      AND p.s >= vc.c_s AND p.s <= vc.v_s + {FUNNEL_WF_T})
    SELECT u.user_id,
           CAST(CASE WHEN d3.user_id IS NOT NULL THEN 3
                     WHEN d2.user_id IS NOT NULL THEN 2
                     WHEN d1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS max_depth
    FROM users u
    LEFT JOIN d1 USING (user_id)
    LEFT JOIN d2 USING (user_id)
    LEFT JOIN d3 USING (user_id)
    ORDER BY u.user_id
    """,
)
def funnel_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X340: windowFunnel semantics (the ClickHouse operator): per user,
    the deepest prefix of view -> click -> purchase completed with the
    WHOLE chain inside {FUNNEL_WF_T}s of its first step — the
    time-boxed funnel that funnel_conversion (X37, session-scoped) and
    funnel_time_to_convert (X128) don't express. Depth k is an EXISTS
    over ordered k-tuples, so the plan is progressive semi-join
    pruning, never a k-way enumeration kept around: the (view, click)
    band pairs are built once (user-keyed join, band-limited to the
    window), depth-3 semi-joins purchases against them, and each depth
    collapses to DISTINCT users immediately. All comparisons are
    integer epoch seconds — no floats anywhere. At 100 TB the joins
    are user-keyed with window-banded fanout (the asof family's cost
    envelope); type prefilters cut each side before any shuffle."""
    from .relational import _utc

    _utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("s"),
    )
    users = ev.select("user_id").distinct()
    v = ev.filter(F.col("event_type") == "view").select("user_id", "s")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("s").alias("c_s")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("s").alias("p_s")
    )
    d1 = v.select("user_id").distinct().withColumn("d1", F.lit(1))
    vc = (
        v.join(c, "user_id")
        .filter(
            (F.col("c_s") >= F.col("s"))
            & (F.col("c_s") <= F.col("s") + FUNNEL_WF_T)
        )
        .select("user_id", F.col("s").alias("v_s"), "c_s")
        .distinct()
    )
    d2 = vc.select("user_id").distinct().withColumn("d2", F.lit(1))
    d3 = (
        vc.join(p, "user_id")
        .filter(
            (F.col("p_s") >= F.col("c_s"))
            & (F.col("p_s") <= F.col("v_s") + FUNNEL_WF_T)
        )
        .select("user_id")
        .distinct()
        .withColumn("d3", F.lit(1))
    )
    return (
        users.join(d1, "user_id", "left")
        .join(d2, "user_id", "left")
        .join(d3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("d3") == 1, 3)
            .when(F.col("d2") == 1, 2)
            .when(F.col("d1") == 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("max_depth"),
        )
        .orderBy("user_id")
    )


TD_L = 8  # interleaved list length (4 rounds of 2 — exhaustion-proof
# for two 10-item source lists: a team drafts at most 8 of its 10 even
# if every prior taken item came from its own list)
TD_K = 10  # per-ranker candidate list length


def _td_coins() -> list[int]:
    """Deterministic per-round first-pick coins: bit of md5('td:r') —
    computed in python at plan-build time, inlined as literals in BOTH
    the Spark plan and the DuckDB oracle (the h60 convention, evaluated
    eagerly since rounds are a compile-time constant)."""
    import hashlib

    return [
        int(hashlib.md5(f"td:{r}".encode()).hexdigest()[:15], 16) % 2
        for r in range(TD_L // 2)
    ]


def _td_team_seq() -> list[int]:
    """Position -> team (0 = popularity, 1 = recency): within round r,
    coin(r) drafts first, the other second."""
    seq = []
    for r in range(TD_L // 2):
        c = _td_coins()[r]
        seq += [c, 1 - c]
    return seq


_TD_RANKERS_SQL = f"""
    r AS ({{ratings}}),
    pop AS (
        SELECT item_id, CAST(COUNT(*) AS BIGINT) AS sc
        FROM r GROUP BY 1),
    rec AS (
        SELECT item_id,
               MAX(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS sc
        FROM r GROUP BY 1),
    la AS (
        SELECT list(item_id ORDER BY sc DESC, item_id) AS l
        FROM (SELECT * FROM pop ORDER BY sc DESC, item_id LIMIT {TD_K})),
    lb AS (
        SELECT list(item_id ORDER BY sc DESC, item_id) AS l
        FROM (SELECT * FROM rec ORDER BY sc DESC, item_id LIMIT {TD_K}))
"""


def _td_oracle() -> str:
    teams = _td_team_seq()
    from ..data import RATINGS_SQL

    team_case = " ".join(
        f"WHEN {i} THEN {t}" for i, t in enumerate(teams)
    )
    return f"""
    WITH RECURSIVE {_TD_RANKERS_SQL.format(ratings=RATINGS_SQL)},
    st(pos, taken) AS (
        SELECT 0, CAST([] AS BIGINT[])
        UNION ALL
        SELECT st.pos + 1,
               list_append(st.taken,
                   list_filter(CASE (CASE st.pos {team_case} END)
                                    WHEN 0 THEN la.l ELSE lb.l END,
                               x -> NOT list_contains(st.taken, x))[1])
        FROM st, la, lb WHERE st.pos < {TD_L})
    SELECT CAST(p.pos AS BIGINT) AS pos,
           CAST(f.taken[p.pos + 1] AS BIGINT) AS item_id,
           CAST(CASE p.pos {team_case} END AS INT) AS team
    FROM (SELECT UNNEST(range({TD_L})) AS pos) p,
         (SELECT taken FROM st WHERE pos = {TD_L}) f
    ORDER BY pos
    """


@query("team_draft_interleaving", oracle=_td_oracle())
def team_draft_interleaving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X342: team-draft interleaving (Radlinski et al.) — the online
    ranker-comparison method: two rankers' top-{TD_K} lists (popularity
    = interaction count; recency = last interaction day; both tie-broken
    on item_id) are merged by alternating drafts, a deterministic coin
    per round deciding who drafts first, each team drafting its
    highest-ranked item not already in the interleaved list. Click
    credit on the served list then compares rankers without an A/B
    split. The draft is a seen-set recurrence, but its depth is the
    COMPILE-TIME constant {TD_L}, so the engine unrolls it into {TD_L}
    chained column expressions over a 1-row array state (element_at /
    filter / array_union — all JVM higher-order functions, no UDF, no
    loop at runtime), and the coins are md5 literals computed at
    plan-build time and inlined identically into the DuckDB oracle's
    recursive CTE. Everything is integer; the oracle replays the draft
    list-for-list. At 100 TB the only data-sized work is the two
    ranker rollups; the draft itself is O({TD_L}) on one row."""
    from .relational import _utc
    from ..data import ratings as load_ratings

    _utc(spark)
    r = load_ratings(spark, sf_dir)
    pop = (
        r.groupBy("item_id")
        .agg(F.count("*").cast("long").alias("sc"))
        .orderBy(F.col("sc").desc(), "item_id")
        .limit(TD_K)
    )
    rec = (
        r.groupBy("item_id")
        .agg(
            F.max(
                F.expr(
                    "CAST(FLOOR(unix_timestamp(ts)) AS BIGINT) DIV 86400"
                )
            )
            .cast("long")
            .alias("sc")
        )
        .orderBy(F.col("sc").desc(), "item_id")
        .limit(TD_K)
    )

    def as_list(df: DataFrame, name: str) -> DataFrame:
        # pmod-constant partition over the <=TD_K-row post-limit table
        w = W.partitionBy(F.pmod(F.col("item_id"), F.lit(1))).orderBy(
            F.col("sc").desc(), "item_id"
        )
        return (
            df.withColumn("rnk", F.row_number().over(w))
            .groupBy()
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("rnk", "item_id"))
                ).alias("s")
            )
            .select(
                F.transform(F.col("s"), lambda x: x["item_id"]).alias(name)
            )
        )

    state = as_list(pop, "la").crossJoin(as_list(rec, "lb"))
    teams = _td_team_seq()
    state = state.withColumn("taken", F.array().cast("array<bigint>"))
    for i in range(TD_L):
        src = "la" if teams[i] == 0 else "lb"
        pick = F.element_at(
            F.filter(
                F.col(src),
                lambda x: ~F.array_contains(F.col("taken"), x),
            ),
            1,
        )
        state = state.withColumn(
            "taken", F.concat(F.col("taken"), F.array(pick))
        )
    out = state.select(
        F.posexplode(F.col("taken")).alias("pos0", "item_id")
    ).select(
        (F.col("pos0")).cast("long").alias("pos"),
        F.col("item_id").cast("long").alias("item_id"),
    )
    team_col = F.lit(None).cast("int")
    for i, t in enumerate(teams):
        team_col = F.when(F.col("pos") == i, F.lit(t)).otherwise(team_col)
    return out.select("pos", "item_id", team_col.alias("team")).orderBy(
        "pos"
    )


RBO_K = 10  # top-k depth; p = 0.5 (dyadic) so truncated RBO = sum 2^-d X_d/d


@query(
    "ranking_rbo_drift",
    oracle=f"""
    WITH wk AS (
        SELECT CAST(epoch(l_shipdate) AS BIGINT) // 604800 AS week,
               l_partkey AS item,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1, 2),
    r AS (
        SELECT week, item,
               ROW_NUMBER() OVER (PARTITION BY week
                                  ORDER BY cents DESC, item) AS rnk
        FROM wk),
    top AS (SELECT week, item, rnk FROM r WHERE rnk <= {RBO_K}),
    common AS (
        SELECT a.week, a.item, a.rnk AS ra, b.rnk AS rb
        FROM top a JOIN top b ON b.week = a.week + 1 AND b.item = a.item),
    terms AS (
        SELECT c.week, d.d,
               CAST(COUNT(*) AS BIGINT) AS x_d
        FROM common c,
             (SELECT CAST(UNNEST(range(1, {RBO_K} + 1)) AS BIGINT) AS d) d
        WHERE c.ra <= d.d AND c.rb <= d.d
        GROUP BY 1, 2),
    weeks AS (
        SELECT DISTINCT a.week FROM top a
        JOIN top b ON b.week = a.week + 1),
    micro AS (
        SELECT w.week,
               COALESCE(CAST(SUM(CAST(ROUND(1000000.0 * t.x_d
                              / (2 ** t.d) / t.d) AS BIGINT)) AS BIGINT),
                        0) AS rbo_micro,
               COALESCE(CAST(MAX(CASE WHEN t.d = {RBO_K} THEN t.x_d END)
                             AS BIGINT), 0) AS overlap_at_k
        FROM weeks w LEFT JOIN terms t ON t.week = w.week
        GROUP BY 1)
    SELECT week, overlap_at_k, rbo_micro,
           ROUND(CAST(rbo_micro AS DOUBLE) / 1000000, 6) AS rbo
    FROM micro
    ORDER BY week
    """,
)
def ranking_rbo_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X353: rank-biased overlap (Webber et al. 2010) between
    consecutive weeks' top-{RBO_K} revenue items — the top-heavy
    ranking-drift monitor (plain set overlap treats rank 1 and rank 10
    alike; RBO weights agreement at depth d by p^(d-1)). p = 0.5 is
    DYADIC, so truncated RBO = Sigma_d 2^-d * X_d / d where X_d =
    |prefix_d(week) intersect prefix_d(week+1)| is an exact INTEGER
    from a keyed self-join of the top-k table; each term is one fixed
    double expression over (X_d, d) rounded to BIGINT MICRO-units and
    the RBO is their order-free integer sum (the ECE discipline).
    Weekly top-k ranks on exact cents with item tiebreaks (both
    engines sort identically); week pairs with ZERO overlap still
    emit (rbo = 0) via the week spine. Plan: one keyed week-item
    rollup, a week-keyed rank window, a (week+1, item) equi-join, a
    10-way bounded depth explode — every shuffle keyed, top-k tables
    are |weeks| x k rows."""
    from .relational import _utc

    _utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.expr(
            "CAST(FLOOR(unix_timestamp(l_shipdate)) AS BIGINT) DIV 604800"
        ).alias("week"),
        F.col("l_partkey").alias("item"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    wr = W.partitionBy("week").orderBy(F.col("cents").desc(), "item")
    top = (
        wk.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= RBO_K)
        .select("week", "item", "rnk")
    )
    b = top.select(
        (F.col("week") - 1).alias("week"),
        "item",
        F.col("rnk").alias("rb"),
    )
    common = top.withColumnRenamed("rnk", "ra").join(b, ["week", "item"])
    depths = spark.range(1, RBO_K + 1).select(F.col("id").alias("d"))
    terms = (
        common.crossJoin(F.broadcast(depths))
        .filter((F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")))
        .groupBy("week", "d")
        .agg(F.count("*").cast("long").alias("x_d"))
    )
    weeks = (
        top.select("week")
        .join(
            top.select((F.col("week") - 1).alias("week")).distinct(),
            "week",
        )
        .distinct()
    )
    micro = (
        weeks.join(terms, "week", "left")
        .groupBy("week")
        .agg(
            F.coalesce(
                F.sum(
                    F.round(
                        1000000.0
                        * F.col("x_d")
                        / F.pow(F.lit(2.0), F.col("d").cast("double"))
                        / F.col("d")
                    ).cast("long")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("rbo_micro"),
            F.coalesce(
                F.max(
                    F.when(F.col("d") == RBO_K, F.col("x_d"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("overlap_at_k"),
        )
    )
    return micro.select(
        "week",
        "overlap_at_k",
        "rbo_micro",
        F.round(F.col("rbo_micro").cast("double") / 1000000, 6).alias(
            "rbo"
        ),
    ).orderBy("week")


ABANDON_GAP_S = 1800  # session gap, same as sessionize (X20)


@query(
    "cart_abandonment_daily",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
        FROM events),
    g AS (
        SELECT user_id, event_type, s,
               CASE WHEN s - LAG(s) OVER (PARTITION BY user_id ORDER BY s)
                         > {ABANDON_GAP_S}
                         OR LAG(s) OVER (PARTITION BY user_id ORDER BY s)
                            IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM e),
    sid AS (
        SELECT user_id, event_type, s,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY s
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS sess
        FROM g),
    per AS (
        SELECT user_id, sess,
               MIN(s) AS start_s,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS has_click,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS has_purchase
        FROM sid GROUP BY 1, 2)
    SELECT CAST(start_s // 86400 AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS sessions,
           CAST(SUM(has_click) AS BIGINT) AS click_sessions,
           CAST(SUM(CASE WHEN has_click = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS abandoned,
           ROUND(CASE WHEN SUM(has_click) > 0
                      THEN CAST(SUM(CASE WHEN has_click = 1
                                          AND has_purchase = 0
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / SUM(has_click)
                      ELSE 0 END, 6) AS abandonment_rate
    FROM per
    GROUP BY 1
    ORDER BY 1
    """,
)
def cart_abandonment_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X355: daily cart-abandonment rate — of the sessions that showed
    buying intent (a click), how many ended without a purchase; the
    conversion-health trend a storefront watches daily, one level up
    from funnel_conversion (which counts step transitions, not session
    outcomes). Sessions are the engine's standard 30-min-gap
    sessionization (user-keyed lag + running sum — the X20 machinery
    inlined); intent/outcome are per-session MAX flags, the day is the
    session START day (integer epoch-day), and the rate is one
    division of exact BIGINT counts, rounded 6. Ties and session
    boundaries are integer-second comparisons — no tz, no floats.
    Plan: two user-keyed windows + two keyed rollups; scales as the
    sessionizer does (the user shuffle dominates)."""
    from .relational import _utc

    _utc(spark)
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("s"),
    )
    wu = W.partitionBy("user_id").orderBy("s")
    sid = (
        e.withColumn("prev", F.lag("s").over(wu))
        .withColumn(
            "new_sess",
            (
                F.col("prev").isNull()
                | (F.col("s") - F.col("prev") > ABANDON_GAP_S)
            ).cast("long"),
        )
        .withColumn(
            "sess",
            F.sum("new_sess").over(wu.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    per = sid.groupBy("user_id", "sess").agg(
        F.min("s").alias("start_s"),
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("has_click"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase"),
    )
    ab = F.when(
        (F.col("has_click") == 1) & (F.col("has_purchase") == 0), 1
    ).otherwise(0)
    return (
        per.groupBy(
            F.expr("start_s DIV 86400").cast("long").alias("day")
        )
        .agg(
            F.count("*").cast("long").alias("sessions"),
            F.sum("has_click").cast("long").alias("click_sessions"),
            F.sum(ab).cast("long").alias("abandoned"),
            F.round(
                F.when(
                    F.sum("has_click") > 0,
                    F.sum(ab).cast("double") / F.sum("has_click"),
                ).otherwise(0.0),
                6,
            ).alias("abandonment_rate"),
        )
        .orderBy("day")
    )
