"""Per-drain phase profiler for the streaming-parity queries (guide §1).

Runs the REAL catalog query functions with DataStreamWriter.start
patched to capture every StreamingQuery object, then dumps, per drain:

- wall time from .start() to termination,
- per-micro-batch ``durationMs`` breakdown from the query's progress
  events (addBatch / getBatch / latestOffset / queryPlanning /
  walCommit / commitOffsets / triggerExecution),
- state-operator commit times and state-store counts,

so the per-drain machinery floor (~2.5-3 s/drain in r10's honest bench
rows) is attributed to specific phases instead of guessed at.

Usage: [SPARK_GRAFT_SF_DIR=...] python tools/profile_drain.py q144 q241 ...
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]

    from pyspark.sql.streaming import readwriter as srw

    from aquiles_etl_pipeline_spark.relational import registry
    from aquiles_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="aquiles-profile-drain")
    spark.sparkContext.setLogLevel("ERROR")

    from bench import _warm_streaming_state, force, resolve

    specs = registry()
    names = resolve(specs, args)

    captured: list[dict] = []
    orig_start = srw.DataStreamWriter.start

    def patched_start(self, *a, **kw):
        t0 = time.perf_counter()
        q = orig_start(self, *a, **kw)
        captured.append({"q": q, "t_start_call": t0, "t_started": time.perf_counter()})
        return q

    srw.DataStreamWriter.start = patched_start
    try:
        # session warm-up mirrors bench.py: batch JIT + streaming boot
        first = next(iter(specs.values()))
        first.fn(spark, sf_dir).limit(1).collect()
        _warm_streaming_state(spark)

        for name in names:
            captured.clear()
            t0 = time.perf_counter()
            force(name, specs[name].fn(spark, sf_dir))
            total = time.perf_counter() - t0
            print(f"\n=== {name}: total {total:.2f}s, {len(captured)} drains ===")
            for i, cap in enumerate(captured):
                q = cap["q"]
                try:
                    progress = [
                        p if isinstance(p, dict) else json.loads(p.json)
                        for p in q.recentProgress
                    ]
                except Exception as exc:
                    print(f"  drain {i}: progress unavailable: {exc}")
                    continue
                print(
                    f"  drain {i}: start() call -> returned "
                    f"{cap['t_started'] - cap['t_start_call']:.2f}s, "
                    f"{len(progress)} batches"
                )
                for p in progress:
                    dm = p.get("durationMs", {})
                    so = p.get("stateOperators", [])
                    st = ""
                    if so:
                        st = " state[" + ",".join(
                            f"{s.get('operatorName','?')}:commit={s.get('commitTimeMs','?')}ms"
                            f",rows={s.get('numRowsTotal','?')}"
                            for s in so
                        ) + "]"
                    print(
                        f"    batch {p.get('batchId')}: trigger={dm.get('triggerExecution')}ms"
                        f" (addBatch={dm.get('addBatch')} getBatch={dm.get('getBatch')}"
                        f" latestOffset={dm.get('latestOffset')} plan={dm.get('queryPlanning')}"
                        f" wal={dm.get('walCommit')} commit={dm.get('commitOffsets')})"
                        f" rows={p.get('numInputRows')}{st}"
                    )
    finally:
        srw.DataStreamWriter.start = orig_start


if __name__ == "__main__":
    main()
