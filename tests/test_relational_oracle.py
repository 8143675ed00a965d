"""DuckDB-as-oracle differential tests over the query catalog at
sf0.001 (fast; the full sf0.01 sweep is `python tools/oracle_diff.py`,
mirroring the driver's correctness gate)."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from aquiles_etl_pipeline_spark.relational import registry  # noqa: E402
from tools.oracle_diff import TABLES, canon  # noqa: E402


@pytest.fixture(scope="module")
def oracle(sf_dir_module):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir_module}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def sf_dir_module() -> str:
    return "/root/testdata/sf0.001"


# query name -> output schema of the frame test_query_matches_oracle
# built, so the hash-hazard check does not build the query again
_SCHEMAS: dict = {}


@pytest.mark.parametrize("name", sorted(registry()))
def test_query_matches_oracle(spark, oracle, sf_dir_module, name):
    spec = registry()[name]
    if spec.sql is None:
        pytest.skip("no oracle (rows-only check)")
    df = spec.fn(spark, sf_dir_module)
    _SCHEMAS[name] = df.schema
    got = canon(df.toPandas())
    want = canon(oracle.execute(spec.sql).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want), f"rowcount {len(got)} != {len(want)}"
    assert got.equals(want), "value mismatch"


@pytest.mark.parametrize("name", sorted(registry()))
def test_no_hash_hazard_output_types(spark, sf_dir_module, name):
    """Driver-hash discipline (round-1 and round-2 lessons): oracle-
    backed queries must not emit DECIMAL, FLOAT32, or container-typed
    output columns.  The driver renders Spark decimals scale-preserving
    ('5.40') but DuckDB decimals as floats ('5.4'), so ANY decimal
    output column hash-mismatches on trailing-zero values; float32
    round-trips differently through pandas on the two sides; and the
    driver's pandas canonicalizer cannot hash ARRAY/MAP/STRUCT cells at
    all ('unhashable type: list' — q54, r02).  Fractional outputs must
    be DOUBLE (relational.catalog.emit); array outputs must be
    serialized to scalars (array_join / hash digest).  Checks the
    schema of the frame the oracle test built, building the query only
    when that test has not run."""
    from pyspark.sql.types import (
        ArrayType,
        DateType,
        DecimalType,
        FloatType,
        MapType,
        StructType,
    )

    spec = registry()[name]
    if spec.sql is None:
        pytest.skip("no oracle (rows-only check)")
    schema = _SCHEMAS.get(name) or spec.fn(spark, sf_dir_module).schema
    # DateType: pandas renders Spark dates as datetime.date but DuckDB
    # dates as datetime64 -> guaranteed mirror mismatch (q83 lesson);
    # emit ISO strings instead.  TIMESTAMP is fine (datetime64 both).
    hazard = (DecimalType, FloatType, ArrayType, MapType, StructType, DateType)
    bad = [f.name for f in schema.fields if isinstance(f.dataType, hazard)]
    assert not bad, f"{name} emits hash-hazard typed columns: {bad}"


def test_q39_approx_distinct_within_tolerance(spark):
    """HLL++ at rsd=0.01 must land within 5% of the exact distinct
    count (it has no DuckDB oracle — sketches differ by engine)."""
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.relational import registry

    sf = "/root/testdata/sf0.01"
    rows = registry()["q39_approx_distinct_users"].fn(spark, sf).collect()
    assert rows and all(r["approx_within_5pct"] for r in rows)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    approx = {
        r["event_type"]: r["a"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("a"))
        .collect()
    }
    exact = {r["event_type"]: r["exact_users"] for r in rows}
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(0.05 * n, 1), (k, approx[k], n)


def test_salted_join_matches_plain_join(spark):
    """Salted equi-join must be result-identical to the plain join —
    salting only changes the physical row distribution."""
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.relational.joins import salted_join

    # degenerate skew: 90% of left rows share one key
    left = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 500).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    got = salted_join(left, right, on="k", salt=8).groupBy("k").count().collect()
    want = left.join(right, "k").groupBy("k").count().collect()
    assert sorted((r["k"], r["count"]) for r in got) == sorted(
        (r["k"], r["count"]) for r in want
    )


def test_sql_surface_register_views(spark):
    """spark.sql over the registered views is a first-class entry: a
    join+agg and an events window run pure-SQL and agree with the
    DataFrame catalog results."""
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.relational.catalog import load, register_views

    register_views(spark, "/root/testdata/sf0.001")
    got = spark.sql(
        """
        SELECT r.r_name, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
        """
    ).collect()
    cust = load(spark, "/root/testdata/sf0.001", "customer")
    nat = load(spark, "/root/testdata/sf0.001", "nation")
    reg = load(spark, "/root/testdata/sf0.001", "region")
    want = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name").agg(F.count("*").alias("n_customers"))
        .orderBy("r_name").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # events view carries the timestamp fix-up: window functions work
    n = spark.sql(
        "SELECT COUNT(*) FROM (SELECT user_id, ROW_NUMBER() OVER "
        "(PARTITION BY user_id ORDER BY ts) rn FROM events) WHERE rn = 1"
    ).collect()[0][0]
    assert n == load(spark, "/root/testdata/sf0.001", "events").select("user_id").distinct().count()


def test_q264_funnel_parity_under_timestamp_ties(spark, tmp_path):
    """Regression for the same-timestamp interleaving hazard: a click,
    a purchase, a view, and a second click all at ONE timestamp, with
    the only strictly-later purchase outside the 30-minute window.
    Under ROWS frames the Spark window formulation and the oracle's
    (user, ts) click grouping disagree on this pattern (level 2 vs 3);
    the strict-timestamp RANGE semantics make both engines emit the
    same histogram: the view's successor click is at T+1min and the
    first purchase after it is at T+40min -> level 2."""
    import pandas as pd

    from aquiles_etl_pipeline_spark.relational import registry

    t0 = pd.Timestamp("2024-01-01 12:00:00")
    rows = [
        # all four at the identical timestamp T
        (1, t0, 1, "click", 1.0, None),
        (2, t0, 1, "purchase", 1.0, None),
        (3, t0, 1, "view", 1.0, None),
        (4, t0, 1, "click", 1.0, None),
        # a strictly later click inside the window, purchase outside it
        (5, t0 + pd.Timedelta(minutes=1), 1, "click", 1.0, None),
        (6, t0 + pd.Timedelta(minutes=40), 1, "purchase", 1.0, None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = tmp_path / "tie_sf"
    sf.mkdir()
    pdf.to_parquet(sf / "events.parquet", index=False)

    spec = registry()["q264_window_funnel"]
    got = {
        r["level"]: r["n_users"]
        for r in spec.fn(spark, str(sf)).collect()
    }
    assert got == {2: 1}, f"strict-ts funnel semantics broken: {got}"

    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = {int(r[0]): int(r[1]) for r in con.execute(spec.sql).fetchall()}
    assert want == got, f"oracle diverges on ties: {want} != {got}"
