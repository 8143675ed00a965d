"""Warm per-query timing harness for the optimization rounds.

Times ONLY the named queries (qNNN short keys or full names) with the
same action rule as bench.py, after a session + first-query warm-up.
Each query runs ``--reps`` times (default 3); prints per-rep seconds and
the min.  Unlike bench.py it never touches BENCH_DETAIL.json — this is
the A/B measurement lane for individual optimizations; the committed
record stays the full bench run.

Usage: [SPARK_GRAFT_SF_DIR=...] python tools/time_queries.py [--reps N] q28 q372 ...
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2 :]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from aquiles_etl_pipeline_spark.relational import registry
    from aquiles_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="aquiles-time-queries")
    spark.sparkContext.setLogLevel("ERROR")

    from bench import _drop_result_memo, _run_once, resolve

    specs = registry()
    names = resolve(specs, args)

    # session warm-up: JIT + codegen + python-worker daemon, charged to
    # nobody (bench.py does the same)
    first = next(iter(specs.values()))
    first.fn(spark, sf_dir).limit(1).collect()

    for name in names:
        ts = []
        for _ in range(reps):
            _drop_result_memo(name)  # every rep a real run (see bench.py)
            ts.append(_run_once(spark, sf_dir, name, specs[name]))
        print(
            f"{name}: min={min(ts):.2f}s  reps={[round(t, 2) for t in ts]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
