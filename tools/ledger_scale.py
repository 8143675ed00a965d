"""How the ProcessFile ledger's per-file cost grows with its size.

Fills a ledger of N rows in a throwaway warehouse, then times the
per-file bookkeeping one ingest does: the skip-gate lookup plus the
in-progress and success transitions.  Driver-side only (the ledger
launches no Spark job), so no SparkSession is started.  Prints one line
per size: the minimum and median over ``--reps`` files.

Usage: python tools/ledger_scale.py [--reps N] [rows ...]
       (default sizes: 0 1000 20000 100000 1000000)
"""

from __future__ import annotations

import statistics
import sys
import tempfile
import time
from datetime import datetime, timezone
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyarrow as pa  # noqa: E402
from pyspark.sql.pandas.types import to_arrow_schema  # noqa: E402

from aquiles_etl_pipeline_spark import ledger  # noqa: E402
from aquiles_etl_pipeline_spark.merge.schemas import PROCESS_FILE  # noqa: E402
from aquiles_etl_pipeline_spark.merge.warehouse import Warehouse  # noqa: E402


def filled(root: Path, n: int) -> Warehouse:
    wh = Warehouse(None, root)  # the ledger never touches the session
    wh.create_if_absent("process_file", PROCESS_FILE)
    if n:
        now = datetime.now(timezone.utc)
        wh.overwrite_local(
            "process_file",
            pa.table(
                {
                    "Id": pa.array(range(1, n + 1), pa.int64()),
                    "Container": pa.array(["prices"] * n),
                    "FileName": pa.array([f"f{i:08d}.csv" for i in range(n)]),
                    "StatusId": pa.array([3] * n, pa.int32()),
                    "ProcessDt": pa.array([now] * n),
                    "BlobSize": pa.array([2_000] * n, pa.int64()),
                    "ContentType": pa.nulls(n, pa.string()),
                    "CreatedDt": pa.array([now] * n),
                    "LastModifiedDt": pa.array([now] * n),
                    "ETag": pa.nulls(n, pa.string()),
                    "Metadata": pa.nulls(n, pa.string()),
                }
            ).cast(to_arrow_schema(PROCESS_FILE)),
        )
    return wh


def main() -> None:
    args = sys.argv[1:]
    reps = 7
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    sizes = [int(a) for a in args] or [0, 1_000, 20_000, 100_000, 1_000_000]
    for n in sizes:
        with tempfile.TemporaryDirectory(prefix="ledger_scale_") as tmp:
            wh = filled(Path(tmp), n)
            times = []
            for k in range(reps):
                info = ledger.FileInfo("prices", f"new{k:04d}.csv", blob_size=2_000)
                t = time.perf_counter()
                ledger.already_processed(wh, info.container, info.file_name)
                ledger.mark_in_progress(wh, info)
                ledger.mark_success(wh, info)
                times.append(time.perf_counter() - t)
            assert ledger.get_status(wh, "prices", info.file_name) == 3
        print(
            f"{n:>9} rows: lookup + 2 transitions min {min(times) * 1e3:7.1f} ms, "
            f"median {statistics.median(times) * 1e3:7.1f} ms"
        )


if __name__ == "__main__":
    main()
