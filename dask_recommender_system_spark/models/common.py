"""Shared machinery for the relational matrix-factorization models.

Design (SURVEY.md §1.4, §7.3): the reference's dense masked-matrix math is
mathematically equivalent to relational operations over the observed
ratings triples, so training never materializes the n_users × n_items
matrix. Factors are stored as k *scalar double columns* (f_0..f_{k-1})
during training — gradient reductions then compile to plain hash
aggregates with map-side partial aggregation (pure JVM codegen, no Python,
no array explode ×k). The MLlib-shaped `(id, features array<double>)` view
is produced on demand.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..blocks import hash_uniform


@dataclass
class CorpusStats:
    """Driver-side scalars (reference models/als.py:35-41) — the only
    training state that ever leaves the cluster."""

    n_users: int
    n_items: int
    n_ratings: int
    min_rating: float
    max_rating: float
    mean_rating: float


def corpus_stats(r_enc: DataFrame) -> CorpusStats:
    row = r_enc.agg(
        F.countDistinct("u_idx").alias("nu"),
        F.countDistinct("i_idx").alias("ni"),
        F.count("*").alias("nr"),
        F.min("rating").alias("lo"),
        F.max("rating").alias("hi"),
        F.avg("rating").alias("mu"),
    ).first()
    return CorpusStats(
        n_users=row["nu"],
        n_items=row["ni"],
        n_ratings=row["nr"],
        min_rating=float(row["lo"]),
        max_rating=float(row["hi"]),
        mean_rating=float(row["mu"]),
    )


def init_params(ids: DataFrame, idx_name: str, k: int, scale: float, salt: int) -> DataFrame:
    """Bias = 0 (da.zeros, models/als.py:68-71), factors = hash-uniform
    (models/als.py:73-76). Wide columns f_0..f_{k-1}."""
    cols = {"bias": F.lit(0.0)}
    for j in range(k):
        cols[f"f_{j}"] = hash_uniform(F.col(idx_name), j, scale, salt)
    return ids.select(idx_name).withColumns(cols)


def dot_wide(k: int, a_prefix: str, b_prefix: str) -> F.Column:
    """Σ_j a_j·b_j over wide factor columns — unrolled, codegen'd."""
    expr = F.lit(0.0)
    for j in range(k):
        expr = expr + F.col(f"{a_prefix}{j}") * F.col(f"{b_prefix}{j}")
    return expr


def metrics_row(err_df: DataFrame, n_ratings: int) -> tuple[float, float, float]:
    """(MAE, MSE, RMSE) of an error frame — reference __get_training_errors
    (models/funk_svd.py:80-84): Σ|e|/n, Σe²/n, √(Σe²/n). Note the divisor
    is n_ratings (observed count), consistent with err ≡ 0 off-support."""
    row = err_df.agg(
        F.sum(F.abs(F.col("err"))).alias("sae"),
        F.sum(F.col("err") * F.col("err")).alias("sse"),
    ).first()
    mae = float(row["sae"]) / n_ratings
    mse = float(row["sse"]) / n_ratings
    return mae, mse, mse**0.5
