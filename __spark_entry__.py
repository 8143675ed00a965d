"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query, q41, at sf0.001;
``queries()``/``oracle_sql()`` expose the engine's declared capability
surface (the registry in aquiles_etl_pipeline_spark/relational/catalog.py)
for the driver's DuckDB differential gate.  Every entry here passes
``python tools/oracle_diff.py`` (the local mirror of that gate) at sf0.01.

Grading order: the driver's sweep walks ``queries()`` in dict order
under a time budget and stops after ~50 entries, so the entries come
stalest first.  The driver's own records beside this file,
``CORRECTNESS_r<N>.json``, say in which rounds each query was graded
green; queries never graded green lead, then the oldest last-green
round, ties by query number.  Each new round's record moves the order
by itself.
"""

from __future__ import annotations

import json
import logging
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from aquiles_etl_pipeline_spark.relational import QuerySpec, registry  # noqa: E402

_log = logging.getLogger(__name__)

_RECORDS = Path(__file__).resolve().parent


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the end-to-end ETL star-schema pipeline (canonicalize →
    transform → staging → MERGE×3 → fact readback) at sf0.001."""
    spec = registry()["q41_etl_star_pipeline"]
    return spec.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator/query from SURVEY.md §2."""
    return {name: spec.fn for name, spec in _grading_order(_RECORDS).items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible queries() entry."""
    return {
        name: spec.sql
        for name, spec in _grading_order(_RECORDS).items()
        if spec.sql is not None
    }


def _last_green(records_dir: Path) -> dict[str, int]:
    """{query: the last round N whose CORRECTNESS_r<N>.json grades it
    green}: rows, schema and hash all match and no error.  A record
    that cannot be read is logged and skipped."""
    last: dict[str, int] = {}
    for path in records_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        try:
            green = [
                name
                for name, g in json.loads(path.read_text()).items()
                if g.get("rows_match") and g.get("schema_match")
                and g.get("hash_match") and not g.get("err")
            ]
        except (OSError, ValueError, AttributeError, TypeError) as exc:
            _log.warning("grading order: skipped %s (%s)", path.name, exc)
            continue
        for name in green:
            last[name] = max(last.get(name, 0), int(m[1]))
    return last


def _grading_order(records_dir: Path) -> dict[str, QuerySpec]:
    """registry() re-ordered stalest first: never graded green, then by
    last green round, ties by query number."""
    specs = registry()
    last = _last_green(records_dir)

    def key(name: str) -> tuple[int, int]:
        return last.get(name, 0), int(name[1:].split("_", 1)[0])

    return {name: specs[name] for name in sorted(specs, key=key)}
