"""Replicate the FunkSVD epoch loop with per-phase timers + job counts
(guide §1): persist+count of the error frame, user-side agg+join+ckpt,
item-side join+agg+join+ckpt. Pure measurement — the model code is not
touched.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EPOCHS = int(sys.argv[1]) if len(sys.argv) > 1 else 5


def main() -> None:
    from pyspark.sql import functions as F

    from dask_recommender_system_spark.data import ratings_cached
    from dask_recommender_system_spark.models.base import _SGDRecommenderBase
    from dask_recommender_system_spark.models.funk_svd import FunkSVD
    from dask_recommender_system_spark.registry import checkpoint, release_checkpoint
    from dask_recommender_system_spark.session import get_spark

    spark = get_spark("drs-epoch-phases")
    sc = spark.sparkContext
    st = sc.statusTracker()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    r = ratings_cached(spark, SF_DIR)

    m = FunkSVD(n_factors=30, lr=0.001, reg=0.001, epochs=1)
    # run fit() prep by hand (copy of base.fit up to the loop)
    from dask_recommender_system_spark.models.common import (
        corpus_stats,
        encode_column,
        init_params,
    )

    user_col, item_col, rating_col = "user_id", "item_id", "rating"
    m.user_col, m.item_col = user_col, item_col
    n_part = sc.defaultParallelism
    t0 = time.perf_counter()
    m.u_map = checkpoint(encode_column(r, user_col, "u_idx"))
    m.i_map = checkpoint(encode_column(r, item_col, "i_idx"))
    r_enc = (
        r.select(
            F.col(user_col).alias("value_u"),
            F.col(item_col).alias("value_i"),
            F.col(rating_col).cast("double").alias("rating"),
        )
        .join(m.u_map.withColumnRenamed("value", "value_u"), "value_u")
        .join(m.i_map.withColumnRenamed("value", "value_i"), "value_i")
        .select("u_idx", "i_idx", "rating")
        .repartition(n_part, "u_idx")
    ).persist()
    m.stats = corpus_stats(r_enc)
    u = checkpoint(init_params(m.u_map.select("u_idx"), "u_idx", m.k, m.init_scale, 1))
    i = checkpoint(init_params(m.i_map.select("i_idx"), "i_idx", m.k, m.init_scale, 2))
    print(f"prep: {time.perf_counter()-t0:.2f}s  jobs={len(st.getJobIdsForGroup(None) or [])}")

    q_cols = [f"q_{j}" for j in range(m.k)]

    def njobs():
        return len(st.getJobIdsForGroup(None) or [])

    for e in range(EPOCHS):
        j0, t0 = njobs(), time.perf_counter()
        err = m._error_df(r_enc, u, i).select("u_idx", "i_idx", "err", *q_cols).persist()
        err.count()
        t1, j1 = time.perf_counter(), njobs()

        u_new = checkpoint(m._update_users(err, u))
        t2, j2 = time.perf_counter(), njobs()

        err_with_new_p = err.select("u_idx", "i_idx", "err").join(
            u_new.select("u_idx", *[F.col(f"f_{j}").alias(f"p_{j}") for j in range(m.k)]),
            "u_idx",
        )
        i_new = checkpoint(m._update_items(err_with_new_p, i))
        t3, j3 = time.perf_counter(), njobs()

        err.unpersist()
        release_checkpoint(u)
        release_checkpoint(i)
        u, i = u_new, i_new
        t4 = time.perf_counter()
        print(
            f"epoch {e}: err_mat={t1-t0:.2f}s({j1-j0}j) "
            f"u_upd={t2-t1:.2f}s({j2-j1}j) i_upd={t3-t2:.2f}s({j3-j2}j) "
            f"cleanup={t4-t3:.2f}s total={t4-t0:.2f}s"
        )


if __name__ == "__main__":
    main()
