"""The driver contract's grading order (``__spark_entry__``): the
driver's sweep grades ~50 queries a round in ``queries()`` order, so
the order comes from the driver's ``CORRECTNESS_r*.json`` records,
stalest first.  No Spark session needed."""

from __future__ import annotations

import json
import logging
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as contract  # noqa: E402
from aquiles_etl_pipeline_spark.relational import registry  # noqa: E402

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _short(names) -> list[str]:
    return [n.split("_", 1)[0] for n in names]


def test_queries_and_oracles_cover_the_registry():
    names = set(registry())
    assert len(names) == 395
    assert set(contract.queries()) == names
    assert set(contract.oracle_sql()) == {
        n for n, spec in registry().items() if spec.sql is not None
    }
    assert list(contract.oracle_sql()) == [
        n for n in contract.queries() if registry()[n].sql is not None
    ]


def test_order_over_the_r01_to_r11_records(tmp_path):
    """Over the committed r01–r11 records: the 45 queries last graded
    green in r03 lead, then r04's, and r11's sample comes last."""
    for n in range(1, 12):
        shutil.copy(REPO / f"CORRECTNESS_r{n:02d}.json", tmp_path)
    order = list(contract._grading_order(tmp_path))
    assert _short(order[:50]) == (
        ["q06", "q37", "q39", "q41", "q45"]
        + [f"q{i}" for i in range(61, 101)]
        + ["q54", "q55", "q56", "q57", "q58"]
    )
    r11 = set(json.loads((tmp_path / "CORRECTNESS_r11.json").read_text()))
    assert min(order.index(n) for n in r11) == 345


def test_order_rules(tmp_path, caplog):
    """Never graded green leads; a red grade (a mismatch or an error)
    does not count as fresh; ties go by query number; an unreadable
    record is skipped and named in the log."""
    names = list(registry())
    q = {n.split("_", 1)[0]: n for n in names}
    r01 = {n: GREEN for n in names if n != q["q02"]}
    r02 = {
        q["q01"]: GREEN,
        q["q03"]: {**GREEN, "hash_match": False},
        q["q04"]: {**GREEN, "err": "TimeoutError"},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(r01))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(r02))
    # unreadable: truncated JSON, and JSON of the wrong shape
    (tmp_path / "CORRECTNESS_r03.json").write_text('{"q01_pricing_summary": ')
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps([q["q01"]]))
    # not a round's record: ignored, not logged
    (tmp_path / "CORRECTNESS_rerun.json").write_text("not a record")

    with caplog.at_level(logging.WARNING, logger=contract.__name__):
        order = list(contract._grading_order(tmp_path))

    assert sorted(order) == sorted(names)
    assert order[0] == q["q02"]
    assert order[-1] == q["q01"]
    numbers = [int(n[1:].split("_", 1)[0]) for n in order[1:-1]]
    assert numbers == sorted(numbers)
    assert order[1:3] == [q["q03"], q["q04"]]
    assert "CORRECTNESS_r03.json" in caplog.text
    assert "CORRECTNESS_r04.json" in caplog.text
    assert "CORRECTNESS_rerun.json" not in caplog.text
