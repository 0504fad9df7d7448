"""Dev harness: run named queries through the driver-format compare at a
chosen SF, with the session pinned to a NON-UTC timezone — the replay
trap from the build conventions (the driver owns its SparkSession and may
not run UTC; operators must pin their own tz via ``_utc``).

    python tools/check_queries.py sql_interface_q13 sql_interface_q14
    SPARK_GRAFT_CHECK_SF=/root/testdata/sf0.001 python tools/check_queries.py <names>
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: check_queries.py <query> [<query> ...]")
        sys.exit(2)
    from dask_recommender_system_spark.registry import REGISTRY, load_all_operators
    from dask_recommender_system_spark.session import get_spark
    from oracle_util import compare, duckdb_con

    load_all_operators()
    spark = get_spark("drs-check")
    # Deliberately non-UTC: catches operators that forget _utc(spark).
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    con = duckdb_con(SF_DIR)
    failed = []
    for name in names:
        q = REGISTRY[name]
        spark_pdf = q.fn(spark, SF_DIR).toPandas()
        if q.oracle is None:
            print(f"{name}: rows-only ({len(spark_pdf)} rows)")
            continue
        oracle_pdf = con.sql(q.oracle).df()
        problems = compare(spark_pdf, oracle_pdf, name)
        if problems:
            failed.append(name)
            print(f"{name}: FAIL ({len(spark_pdf)} vs {len(oracle_pdf)} rows)")
            for p in problems:
                print("   ", p[:500])
            print(spark_pdf.head(5))
            print(oracle_pdf.head(5))
        else:
            print(f"{name}: PASS ({len(spark_pdf)} rows)")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
