"""Import-order self-check for the benchmark's workloads.

    python3 perfbench/selfcheck.py --seed 7

For each workload, a fresh Python process imports only that workload's
operator modules, calls every query once in an order shuffled by the seed
(noop sink, no retries), and fails if any call raised or if
``dask_recommender_system_spark.models`` was imported. A query that reaches
``models`` can fail on its first call in a process and pass on its second,
so a fixed order could hide it; a shuffled order in a fresh process cannot.
Exits 0 only if every workload passes.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import subprocess
import sys

import inputs
from workloads import PACKAGE, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 600


def child(name: str, seed: int) -> int:
    from run import pin_environment, stop_spark

    w = WORKLOADS[name]
    work = os.path.join(ROOT, ".perfbench", f"selfcheck-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pin_environment(work)
        sf_dir = os.path.join(work, "data")
        inputs.generate(sf_dir, seed, w.sizes)
        from dask_recommender_system_spark.registry import REGISTRY
        from dask_recommender_system_spark.session import get_spark

        for m in w.modules:
            importlib.import_module(f"{PACKAGE}.{m}")
        order = list(w.queries)
        random.Random(seed).shuffle(order)
        spark = get_spark("perfbench-selfcheck")
        failed = {}
        try:
            for q in order:
                try:
                    REGISTRY[q].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                except Exception as e:  # record and move on; never retry
                    failed[q] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    models = sorted(m for m in sys.modules if m.startswith(f"{PACKAGE}.models"))
    print(json.dumps({"workload": name, "order": order, "failed": failed, "models": models}))
    return 0 if not failed and not models else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--child", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    if args.child:
        return child(args.child, args.seed)
    ok = True
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "selfcheck.py"), "--child", name,
             "--seed", str(args.seed)],
            cwd=ROOT,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            timeout=CHILD_TIMEOUT_S,
        )
        lines = proc.stdout.strip().splitlines()
        report = json.loads(lines[-1]) if lines else {"workload": name, "error": "no report"}
        passed = proc.returncode == 0
        ok &= passed
        print(f"{'PASS' if passed else 'FAIL'} {json.dumps(report)}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
