"""Structured Streaming tests: the streaming window agg must equal the
batch twin (one correctness definition), and the stateful sessionizer
must match the batch lag+cumsum sessionization."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dask_recommender_system_spark.data import load_table
from dask_recommender_system_spark.registry import REGISTRY, load_all_operators
from dask_recommender_system_spark.streaming.stateful import apply_sessionization
from dask_recommender_system_spark.streaming.windows import read_events_stream

load_all_operators()


def test_stream_matches_batch_tumbling(spark, sf_dir):
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in REGISTRY["window_events_tumbling"].fn(spark, sf_dir).collect()
    }
    stream = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in REGISTRY["stream_window_tumbling"].fn(spark, sf_dir).collect()
    }
    assert batch == stream


@pytest.mark.slow
def test_sessionize_event_time_timeout_flushes_idle_users(spark, tmp_path):
    """EventTimeTimeout contract: once the watermark passes an idle user's
    session end + gap, the OPEN session is flushed downstream and the
    user's state slot is removed — the piece that bounds state on an
    unbounded stream. Event-time-driven, so fully deterministic (no
    sleeps)."""
    src = str(tmp_path / "src")
    schema = "user_id long, ts_s long"
    # batch 1: user 1 only — two events, one (still-open) session
    spark.createDataFrame([(1, 1000), (1, 1100)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = apply_sessionization(stream)
    name = "sess_timeout"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0  # watermark still behind the gap
        # batch 2: a different user far in the future; the watermark
        # advances past user 1's (end + gap) and fires their timer
        spark.createDataFrame([(2, 10_000)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # batch 3: user 1 RETURNS after the timeout. If their state slot
        # was truly removed (not just flushed), the new session restarts
        # at session_id 0; a surviving slot would emit session_id 1.
        spark.createDataFrame([(1, 20_000)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # batch 4: push the watermark past the returned session's end + gap
        # so its timer fires and the re-opened session reaches the sink
        spark.createDataFrame([(3, 100_000)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["user_id"], r["session_id"], r["n_events"], r["start_s"], r["end_s"])
        for r in spark.table(name).collect()
    }
    assert (1, 0, 2, 1000, 1100) in rows  # idle user's open session flushed
    # eviction proof (VERDICT r02 item 7): the post-timeout return opens a
    # FRESH state slot — session_id is 0 again, not a continuation
    assert (1, 0, 1, 20_000, 20_000) in rows
    assert all(not (r[0] == 1 and r[1] >= 1) for r in rows)
    assert all(r[0] != 3 for r in rows)  # user 3's session still open in state


@pytest.mark.slow
def test_stateful_sessionization_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir).select(
        "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    out = apply_sessionization(stream)
    name = "sess_out"
    qh = (
        out.writeStream.outputMode("append").format("memory").queryName(name).start()
    )
    try:
        qh.processAllAvailable()
    finally:
        qh.stop()
    got = spark.table(name)

    # batch truth: sessions closed by a later event of the same user, PLUS
    # tail sessions flushed by the event-time timer — those whose
    # (end + gap) the final watermark (global max ts − delay) passed
    from dask_recommender_system_spark.streaming.stateful import SESSION_GAP_S

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = REGISTRY["sessionize"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_timestamp("ts").alias("ts_s")
    )
    wm_s = ev.agg(F.max("ts_s")).first()[0] - 1800  # delay = "30 minutes"
    sess = (
        batch.join(ev, "event_id")
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.min("ts_s").alias("start_s"),
             F.max("ts_s").alias("end_s"))
    )
    last = sess.groupBy("user_id").agg(F.max("session_id").alias("last_id"))
    closed = sess.join(last, "user_id").filter(
        (F.col("session_id") < F.col("last_id"))
        | (F.col("end_s") + SESSION_GAP_S < F.lit(wm_s))
    )

    got_set = {
        (r["user_id"], r["session_id"], r["n_events"], r["start_s"], r["end_s"])
        for r in got.collect()
    }
    want_set = {
        (r["user_id"], r["session_id"], r["n_events"], r["start_s"], r["end_s"])
        for r in closed.collect()
    }
    assert got_set == want_set


def test_stream_cdc_upsert_keeps_tombstones(spark, sf_dir):
    """stream_cdc_upsert: delete tombstones must survive in the state
    table (a replayed lower-seq row can never resurrect the key), and
    every surviving key carries the highest-seq value."""
    import os

    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import IO_DIR
    from dask_recommender_system_spark.registry import REGISTRY

    out = REGISTRY["stream_cdc_upsert"].fn(spark, sf_dir)
    res = out.collect()
    state_dir = f"{IO_DIR}/cdc_state"
    assert os.path.exists(state_dir)
    state = spark.read.parquet(state_dir)
    n_tomb = state.filter(F.col("op") == "D").count()
    assert n_tomb > 0  # deletes are retained as tombstones, not dropped
    # no deleted key appears in the result, updates won
    deleted = {r["o_orderkey"] for r in state.filter(F.col("op") == "D").collect()}
    for r in res:
        assert r["o_orderkey"] not in deleted
    upd = state.filter(F.col("op") == "U").count()
    assert upd > 0


def test_stream_kll_monitor_flags_hold(spark, sf_dir):
    """stream_kll_quantile_monitor: every window's sketch probe lands in
    the exact discrete-quantile envelope, and the streaming windows cover
    the same hours as a batch hourly agg."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import load_table
    from dask_recommender_system_spark.registry import REGISTRY

    rows = REGISTRY["stream_kll_quantile_monitor"].fn(spark, sf_dir).collect()
    assert rows and all(r["p50_within_bound"] == 1 for r in rows)
    batch_hours = (
        load_table(spark, sf_dir, "events")
        .select(F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h"))
        .distinct()
        .count()
    )
    assert len(rows) == batch_hours


def test_sessionize_timer_boundary_matches_oracle_rule(spark, tmp_path):
    """Pins the strictness the stream_sessionize ORACLE encodes: a timer
    at exactly the final watermark (end_s == max_t - 3600 with the 30-min
    delay and 30-min gap) must NOT fire — Spark fires event-time timers
    only when the watermark moves STRICTLY past them — while one second
    earlier must. If a Spark upgrade flips this, this test (not a driver
    hash mismatch) is what goes red."""
    src = str(tmp_path / "src")
    schema = "user_id long, ts_s long"
    T = 100_000
    rows = [
        (1, T - 7200), (1, T),   # user 1: closed session + open tail
        (2, T - 3600),           # boundary: timer == final watermark
        (3, T - 3601),           # one past: timer fires
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = apply_sessionization(stream)
    name = "sess_boundary"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["session_id"], r["n_events"], r["start_s"], r["end_s"])
        for r in spark.table(name).collect()
    }
    assert (1, 0, 1, T - 7200, T - 7200) in got  # closed by later event
    assert (3, 0, 1, T - 3601, T - 3601) in got  # timer strictly below wm
    assert all(u != 2 for (u, *_rest) in got)    # boundary timer held
    assert all(not (u == 1 and s == 1) for (u, s, *_r) in got)  # open tail held


def test_stream_left_outer_withholds_open_windows(spark, sf_dir):
    """stream_join_left_outer: matched rows carry a purchase, null rows
    are expired-unmatched only, and the stream must emit FEWER rows than
    there are clicks (open-window clicks withheld at drain — the
    distinction from a batch left join)."""
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.registry import REGISTRY

    df = REGISTRY["stream_join_left_outer"].fn(spark, sf_dir).persist()
    n_clicks = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "click")
        .count()
    )
    n_out = df.count()
    assert n_out < n_clicks  # the withheld tail is the semantics pin
    assert df.filter(
        F.col("purchase_id").isNull() != F.col("purchase_ts").isNull()
    ).count() == 0
    matched = df.filter(F.col("purchase_id").isNotNull())
    assert matched.filter(
        (F.col("purchase_ts") < F.col("click_ts"))
        | (F.col("purchase_ts") > F.col("click_ts") + 7200)
    ).count() == 0
    df.unpersist()


def test_stream_hysteresis_equals_batch(spark, sf_dir):
    """stream_hysteresis_alerts: the drained stream must equal the batch
    recurrence row-for-row (same subset, same order keys) — the
    strongest stream/batch parity in the family (no watermark
    adjustment at all)."""
    from dask_recommender_system_spark.registry import REGISTRY

    s = (
        REGISTRY["stream_hysteresis_alerts"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "sec", "event_id"])
        .reset_index(drop=True)
    )
    b = (
        REGISTRY["hysteresis_alert_flags"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "sec", "event_id"])
        .reset_index(drop=True)
    )
    assert len(s) == len(b) > 0
    for col in ("user_id", "event_id", "sec", "alert"):
        assert (s[col].values == b[col].values).all(), col


def test_stream_countmin_equals_batch_counters(spark, sf_dir):
    """stream_countmin_rollup: the drained+merged counter table equals
    a batch-built counter table cell-for-cell, and total counter mass
    is exactly D x |events| (each event increments one bucket per
    row)."""
    from pyspark.sql import functions as F
    from dask_recommender_system_spark.data import load_table
    from dask_recommender_system_spark.operators.windows import CM_D
    from dask_recommender_system_spark.registry import REGISTRY

    rows = REGISTRY["stream_countmin_rollup"].fn(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["c"] for r in rows) == CM_D * n_events
    per_row = {}
    for r in rows:
        per_row[r["j"]] = per_row.get(r["j"], 0) + r["c"]
    assert set(per_row) == set(range(CM_D))
    assert all(v == n_events for v in per_row.values())


def test_stream_rate_limit_equals_batch(spark, sf_dir):
    """stream_rate_limit: the drained stateful output equals the batch
    GROUPED_MAP recurrence row-for-row (hysteresis-grade parity, here
    with a two-field state struct)."""
    from dask_recommender_system_spark.registry import REGISTRY

    got = (
        REGISTRY["stream_rate_limit"].fn(spark, sf_dir)
        .orderBy("user_id", "sec", "event_id")
        .collect()
    )
    want = (
        REGISTRY["rate_limit_token_bucket"].fn(spark, sf_dir)
        .orderBy("user_id", "sec", "event_id")
        .collect()
    )
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (
            g["user_id"], g["event_id"], g["allowed"], g["tokens_after"]
        ) == (w["user_id"], w["event_id"], w["allowed"], w["tokens_after"])
