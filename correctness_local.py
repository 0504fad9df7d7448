"""Builder-side correctness sweep (VERDICT r01 item 8): run EVERY
registered query against its DuckDB oracle at sf0.01 — the same
Spark-vs-DuckDB comparison the driver runs, over the FULL registry instead
of the driver's 50-entry window — and write ``CORRECTNESS_local.json`` in
the driver's format so regressions in driver-unchecked queries stay
visible between rounds.

    python correctness_local.py            # sf0.01, all queries
    SPARK_GRAFT_LOCAL_SF_DIR=/root/testdata/sf0.1 \
        SPARK_GRAFT_LOCAL_OUT=CORRECTNESS_sf01.json \
        python correctness_local.py        # 10x-scale sweep, own file
    SPARK_GRAFT_LOCAL_ONLY=join_asof,decimal_money_suite \
        python correctness_local.py        # targeted subset (VERDICT r05
                                           # item 3: sf1 float-surface sweep)
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))

SF_DIR = os.environ.get("SPARK_GRAFT_LOCAL_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from dask_recommender_system_spark.registry import REGISTRY, all_queries
    from dask_recommender_system_spark.session import get_spark
    from oracle_util import compare, duckdb_con

    spark = get_spark("drs-correctness-local")
    con = duckdb_con(SF_DIR)
    results: dict[str, dict] = {}
    names = all_queries()
    only = os.environ.get("SPARK_GRAFT_LOCAL_ONLY", "").strip()
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in REGISTRY]
        if unknown:
            raise SystemExit(f"unknown query names in SPARK_GRAFT_LOCAL_ONLY: {unknown}")
        names = wanted
    for name in names:
        q = REGISTRY[name]
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            spark_pdf = q.fn(spark, SF_DIR).toPandas()
            rec["spark_rows"] = len(spark_pdf)
            if q.oracle is None:
                rec["err"] = "no_oracle"
            else:
                oracle_pdf = con.sql(q.oracle).df()
                rec["oracle_rows"] = len(oracle_pdf)
                problems = compare(spark_pdf, oracle_pdf, name)
                rec["rows_match"] = len(spark_pdf) == len(oracle_pdf)
                rec["schema_match"] = not any("columns" in p for p in problems)
                rec["hash_match"] = not problems
                if problems:
                    rec["err"] = "; ".join(problems)
        except Exception:
            rec["err"] = traceback.format_exc(limit=3)
        results[name] = rec
        spark.catalog.clearCache()
        status = (
            "PASS"
            if rec["hash_match"]
            else ("rows-only" if rec["err"] == "no_oracle" else "FAIL")
        )
        print(f"{name}: {status}", flush=True)

    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        os.environ.get("SPARK_GRAFT_LOCAL_OUT", "CORRECTNESS_local.json"),
    )
    with open(out, "w") as f:
        json.dump(results, f, indent=2)
    n_pass = sum(1 for r in results.values() if r["hash_match"])
    n_ro = sum(1 for r in results.values() if r["err"] == "no_oracle")
    n_fail = len(results) - n_pass - n_ro
    print(f"\n{len(results)} queries: {n_pass} pass, {n_ro} rows-only, {n_fail} FAIL")
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
