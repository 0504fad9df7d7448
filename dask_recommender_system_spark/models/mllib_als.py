"""MLlib ALS — the true-ALS (blocked normal-equation) fast path.

The reference compares itself against exactly this (report.pdf Table 1,
"Spark's MLlib library … didn't really fine-tune"), and report.pdf §6.2
documents that their hand-rolled true-ALS "didn't scale at all" — MLlib's
blocked solve is the scalable answer, so this engine keeps it as the
production path next to the reference-parity SGD models (SURVEY.md §7.1).
"""

from __future__ import annotations

from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.recommendation import ALS as MLALS, ALSModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_mllib_als(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
    rank: int = 10,
    max_iter: int = 10,
    reg_param: float = 0.1,
    seed: int = 7,
) -> ALSModel:
    """ALS ids must be 32-bit ints; callers with string/64-bit keys encode
    first (blocks.encode_column). coldStartStrategy='drop' excises
    unseen keys from predictions (the SGD models instead emit μ, matching
    the reference — both behaviors are legitimate; pick per pipeline)."""
    als = MLALS(
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        seed=seed,
        coldStartStrategy="drop",
        checkpointInterval=10,
    )
    return als.fit(ratings)


def eval_mllib(model: ALSModel, test: DataFrame, rating_col: str = "rating") -> dict[str, float]:
    pred = model.transform(test)
    out = {}
    for metric in ("mae", "mse", "rmse"):
        out[metric] = RegressionEvaluator(
            metricName=metric, labelCol=rating_col, predictionCol="prediction"
        ).evaluate(pred)
    return out


def recommend_top_k(model: ALSModel, k: int = 5) -> DataFrame:
    """X5 fast path: MLlib's blocked BLAS top-k (recommendForAllUsers) —
    exploded to (user, item, rank, score) rows."""
    recs = model.recommendForAllUsers(k)
    exploded = recs.select(
        "user_id", F.posexplode("recommendations").alias("pos", "rec")
    )
    return exploded.select(
        "user_id",
        F.col("rec.item_id").alias("item_id"),
        (F.col("pos") + 1).cast("long").alias("rnk"),
        F.round(F.col("rec.rating").cast("double"), 6).alias("score"),
    )
