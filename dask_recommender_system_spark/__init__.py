"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference recommender-system library
(anzemur/dask-recommender-system), re-expressed Spark-first.

Architecture (see SURVEY.md for the full blueprint):

- ``session``    — SparkSession factory tuned for local[N] testing but
                   configured the way a 1000-executor cluster job would be
                   (AQE on, explicit shuffle partitions, Arrow on).
- ``data``       — schema-explicit loaders for the testdata star schema and
                   the ratings view derived from it.
- ``registry``   — the query registry: every operator from SURVEY.md §2 is
                   registered with its PySpark implementation and (where
                   SQL-expressible) its DuckDB oracle twin.
- ``blocks``     — ``block_scan``: global ordered scans (dense ranks,
                   running sums/maxima, exact quantiles) without a
                   single-partition window; shared by operators and models.
- ``operators``  — relational / linalg / dedup / similarity / text /
                   multimodal / window operator implementations.
- ``models``     — FunkSVD + "ALS" (relational SGD, reference-parity) and
                   the MLlib ALS fast path.
- ``sources``    — CSV / JSONL / Parquet readers+writers (schema-explicit).
- ``streaming``  — Structured Streaming forms of the window operators.
- ``plans``      — plan-inspection helpers (pushdown / broadcast asserts).
"""

__version__ = "0.1.0"
