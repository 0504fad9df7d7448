"""Pre-round-9 variants of the queries round 9 restructures — kept so
tools/ab_interleave.py can time old-vs-new ALTERNATING in one session
(VERDICT r08 item 1: within-session interleaved A/B is the only timing
evidence immune to machine-state drift). Each function is a verbatim
copy of the r08 implementation at the round-9 start commit, inlined
against the operator module's own helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def item_cf_similarity_r08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r08 form: degrees attached via TWO post-agg joins of `cnt` (capped
    feeds lists AND cnt — a diamond whose subtree replays under count())."""
    from dask_recommender_system_spark.data import ratings_cached
    from dask_recommender_system_spark.operators.windows import (
        CF_TOP_NEIGHBORS,
        CF_USER_CAP,
    )

    r = ratings_cached(spark, sf_dir)
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
    lists = capped.groupBy("user_id").agg(
        F.sort_array(F.collect_list("item_id")).alias("items")
    )
    pairs = lists.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) -> "
                "transform(slice(items, i+2, size(items)), "
                "y -> struct(x AS item_a, y AS item_b))))"
            )
        ).alias("p")
    ).select("p.item_a", "p.item_b")
    co = pairs.groupBy("item_a", "item_b").agg(F.count("*").alias("co"))
    cnt = capped.groupBy("item_id").agg(F.count("*").alias("n"))
    sim = (
        co.join(cnt.select(F.col("item_id").alias("item_a"), F.col("n").alias("na")), "item_a")
        .join(cnt.select(F.col("item_id").alias("item_b"), F.col("n").alias("nb")), "item_b")
        .select(
            "item_a",
            "item_b",
            "co",
            F.round(F.col("co") / F.sqrt(F.col("na") * F.col("nb")), 6).alias("sim"),
        )
    )
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
