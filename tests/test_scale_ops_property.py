"""Property-based equivalence tests for the scale-pattern operators:
each operator exists to change the PLAN, never the answer, so the
property is exact result equality with the naive formulation on
adversarial random inputs.

The bloom test deliberately under-sizes the filter (64 bits for up to
~60 keys) so false positives are dense — proving the exactness pass
catches everything the probabilistic stage lets through.  The skyline
test includes duplicate points and axis ties, the spots where
dominance (strictly-better-on-one) is easiest to get wrong.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

KEYS = st.lists(st.integers(min_value=-50, max_value=50), min_size=0, max_size=60)
POINTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)
    ),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@settings(max_examples=12, deadline=None)
@given(fact_keys=KEYS, dim_keys=KEYS)
def test_bloom_semi_join_equals_plain_semi_join(spark, fact_keys, dim_keys):
    from aquiles_etl_pipeline_spark.relational.joins import bloom_semi_join

    fact = spark.createDataFrame(
        [(k, i) for i, k in enumerate(fact_keys)] or [(None, 0)],
        "k int, payload int",
    )
    dim = spark.createDataFrame([(k,) for k in dim_keys] or [(None,)], "d int")
    got = sorted(
        (r["k"], r["payload"])
        for r in bloom_semi_join(fact, dim, "k", "d", n_bits=64, n_hashes=2).collect()
    )
    want = sorted(
        (r["k"], r["payload"])
        for r in fact.join(dim, fact.k == dim.d, "left_semi").collect()
    )
    assert got == want


@settings(max_examples=12, deadline=None)
@given(points=POINTS)
def test_skyline_matches_bruteforce(spark, points):
    from aquiles_etl_pipeline_spark.relational.skyline import skyline_2d

    df = spark.createDataFrame(points, ["x", "y"])
    got = sorted((r["x"], r["y"]) for r in skyline_2d(df, "x", "y", buckets=4).collect())
    pts = set(points)
    want = sorted(
        (x, y)
        for x, y in pts
        if not any(
            bx <= x and by >= y and (bx < x or by > y) for bx, by in pts
        )
    )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(points=POINTS)
def test_skyline_orientation_flags(spark, points):
    """maximize_x/minimize_y via the negation flags must equal the
    brute force of the flipped dominance relation."""
    from aquiles_etl_pipeline_spark.relational.skyline import skyline_2d

    df = spark.createDataFrame(points, ["x", "y"])
    got = sorted(
        (r["x"], r["y"])
        for r in skyline_2d(
            df, "x", "y", minimize_x=False, maximize_y=False, buckets=4
        ).collect()
    )
    pts = set(points)
    want = sorted(
        (x, y)
        for x, y in pts
        if not any(
            bx >= x and by <= y and (bx > x or by < y) for bx, by in pts
        )
    )
    assert got == want


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(fact_keys=KEYS, dim_keys=st.lists(st.integers(-50, 50), min_size=0, max_size=20))
def test_salted_join_equals_plain_join(spark, fact_keys, dim_keys):
    from aquiles_etl_pipeline_spark.relational.joins import salted_join

    dim_keys = list(dict.fromkeys(dim_keys))  # dims are unique-keyed
    fact = spark.createDataFrame(
        [(k, i) for i, k in enumerate(fact_keys)] or [(None, 0)], "k int, rid int"
    )
    dim = spark.createDataFrame(
        [(k, -k) for k in dim_keys] or [(None, 0)], "k int, attr int"
    )
    for kwargs in ({"salt_by": "rid"}, {}):
        got = sorted(
            (r["k"], r["rid"], r["attr"])
            for r in salted_join(fact, dim, on="k", salt=4, **kwargs).collect()
        )
        want = sorted(
            (r["k"], r["rid"], r["attr"]) for r in fact.join(dim, "k").collect()
        )
        assert got == want, f"salted_join diverged with {kwargs}"


def test_bloom_semi_join_across_key_widths(spark):
    """Regression: xxhash64 is type-sensitive, so int-vs-bigint key
    columns used to hash to different bit positions and silently drop
    every match; both sides now hash the string rendering."""
    from aquiles_etl_pipeline_spark.relational.joins import bloom_semi_join

    fact = spark.createDataFrame([(k, k) for k in range(20)], "k long, payload int")
    dim = spark.createDataFrame([(k,) for k in range(0, 20, 2)], "d int")
    got = sorted(r["k"] for r in bloom_semi_join(fact, dim, "k", "d").collect())
    assert got == list(range(0, 20, 2))


def test_salted_join_rejects_right_outer(spark):
    """Regression: right/full outer would emit unmatched right rows
    once per salt replica — the operator must refuse, not corrupt."""
    import pytest as _pytest

    from aquiles_etl_pipeline_spark.relational.joins import salted_join

    fact = spark.createDataFrame([(1, 10)], "k int, rid int")
    dim = spark.createDataFrame([(2, -2)], "k int, attr int")
    for how in ("right", "full", "outer", "right_outer", "full_outer"):
        with _pytest.raises(ValueError, match="salt the other side"):
            salted_join(fact, dim, on="k", salt=4, how=how)


def test_bloom_semi_join_across_numeric_families(spark):
    """Regression: integral-vs-fractional key pairs (bigint 7 vs double
    7.0) render differently as strings, so string hashing dropped
    matches Spark's join coercion would keep — numeric pairs now hash
    the double cast on both sides."""
    from aquiles_etl_pipeline_spark.relational.joins import bloom_semi_join

    fact = spark.createDataFrame([(float(k), k) for k in range(20)], "k double, payload int")
    dim = spark.createDataFrame([(k,) for k in range(0, 20, 2)], "d int")
    got = sorted(r["payload"] for r in bloom_semi_join(fact, dim, "k", "d").collect())
    assert got == list(range(0, 20, 2))
    # and salted_join accepts the bare semi/anti aliases again
    from aquiles_etl_pipeline_spark.relational.joins import salted_join

    n = salted_join(
        fact.selectExpr("cast(k as int) k", "payload"), dim.selectExpr("d as k"),
        on="k", salt=4, how="semi",
    ).count()
    assert n == 10


@settings(max_examples=10, deadline=None)
@given(
    # negatives included: floor-semantics bitmap coordinates must keep
    # every long distinct (-1 and 63 aliased under the old truncating
    # div + shift-mask scheme)
    ids=st.lists(
        st.integers(min_value=-300, max_value=300), min_size=0, max_size=80
    ),
    nparts=st.integers(min_value=1, max_value=5),
)
def test_bitmap_distinct_equals_count_distinct(spark, ids, nparts):
    from aquiles_etl_pipeline_spark.relational.sketches import bitmap_distinct

    df = spark.createDataFrame(
        [(i % 3, i) for i in ids] or [(0, None)], "g int, id int"
    ).repartition(nparts)
    got = {
        (r["g"], r["n_distinct"], r["n_rows"])
        for r in bitmap_distinct(df, ["g"], "id", count_rows=True).collect()
    }
    want = {
        (r["g"], r["nd"], r["n"])
        for r in df.groupBy("g")
        .agg(F.countDistinct("id").alias("nd"), F.count("*").alias("n"))
        .collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    toks=st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee", "f", "g", "hh"]),
        min_size=1,
        max_size=120,
    ),
    nparts=st.integers(min_value=1, max_value=6),
    k=st.integers(min_value=2, max_value=6),
)
def test_heavy_hitters_equals_naive_threshold(spark, toks, nparts, k):
    """Partition-independence: the Misra-Gries candidate pass depends on
    partitioning, but the exact-verify filter must make the final
    answer identical to the naive GROUP BY ... HAVING count > N/k for
    ANY repartitioning and ANY summary capacity."""
    from collections import Counter

    from aquiles_etl_pipeline_spark.relational.sketches import heavy_hitters

    df = spark.createDataFrame([(t,) for t in toks], "token string").repartition(nparts)
    got = {(r["token"], r["cnt"]) for r in heavy_hitters(df, "token", k=k).collect()}
    n = len(toks)
    want = {(t, c) for t, c in Counter(toks).items() if c > n / k}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=70000),
            st.integers(min_value=0, max_value=70000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_zorder_key_equals_naive_interleave(spark, pts):
    """The magic-mask spread must equal the textbook bit-by-bit
    interleave for any 16-bit coordinates (values above 2^16 truncate)."""
    from aquiles_etl_pipeline_spark.partitioning import zorder_key

    df = spark.createDataFrame(pts, ["x", "y"])
    got = [
        r["z"]
        for r in df.select(zorder_key("x", "y").alias("z")).collect()
    ]

    def naive(x, y):
        x &= 0xFFFF
        y &= 0xFFFF
        return sum(((x >> i) & 1) << (2 * i) for i in range(16)) | (
            sum(((y >> i) & 1) << (2 * i) for i in range(16)) << 1
        )

    assert got == [naive(x, y) for x, y in pts]


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=30,
    ),
    iters=st.integers(min_value=1, max_value=3),
)
def test_pagerank_int_equals_python_reference(spark, edges, iters):
    """Integer PageRank is exactly reproducible: the distributed
    recurrence must equal a sequential pure-python evaluation of the
    same floor-division arithmetic on any random digraph."""
    from aquiles_etl_pipeline_spark.relational.graph import pagerank_int

    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        (r["node"], r["rank_micro"]) for r in pagerank_int(df, iters=iters).collect()
    }

    from collections import defaultdict

    out = defaultdict(list)
    for a, b in sym:
        out[a].append(b)
    rank = {n: 1_000_000 for n in out}
    for _ in range(iters):
        acc = defaultdict(int)
        for src, dsts in out.items():
            c = rank[src] // len(dsts)
            for d in dsts:
                acc[d] += c
        rank = {n: 150_000 + (850_000 * s) // 1_000_000 for n, s in acc.items()}
    assert got == set(rank.items())


@settings(max_examples=8, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=3,
        max_size=40,
    )
)
def test_linear_fit_matches_closed_form(spark, pts):
    """The distributed sufficient-statistics fit must equal the same
    closed form evaluated sequentially on exact integer sums (guarding
    the decimal-cast path against silent truncation)."""
    from aquiles_etl_pipeline_spark.relational.sketches import linear_fit

    xs = [x for x, _ in pts]
    ys = [y for _, y in pts]
    df = spark.createDataFrame([(x, y, "g") for x, y in pts], "x int, y int, g string")
    row = linear_fit(df, "x", "y", "g").collect()[0]
    assert row["n"] == len(pts)
    if len(set(xs)) < 2:
        # zero x-variance: slope/intercept/r2 are NULL, never an ANSI
        # division error
        assert row["slope"] is None and row["intercept"] is None
        assert row["r2"] is None
        return
    n = float(len(pts))
    sx, sy = float(sum(xs)), float(sum(ys))
    sxx = float(sum(x * x for x in xs))
    syy = float(sum(y * y for y in ys))
    sxy = float(sum(x * y for x, y in pts))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    # tolerance, not round-equality: Python round() is banker's while
    # the engine rounds HALF_UP — exact .5 boundaries legitimately
    # differ in the last printed digit
    assert abs(row["slope"] - slope) < 1.1e-6
    assert abs(row["intercept"] - (sy - slope * sx) / n) < 1.1e-6
    if len(set(ys)) < 2:
        assert row["r2"] is None, "zero y-variance must NULL r2"


def test_zorder_bits_bounds_rejected(spark):
    """bits outside [1, 32] must raise, not silently alias coordinates
    (the magic-mask chain only spreads 32-bit inputs)."""
    import pytest as _pytest

    from aquiles_etl_pipeline_spark.partitioning import zorder_key, zorder_sql

    for bad in (0, 33, 64):
        with _pytest.raises(ValueError, match="zorder bits"):
            zorder_sql("x", "y", bits=bad)
        with _pytest.raises(ValueError, match="zorder bits"):
            zorder_key("x", "y", bits=bad)
    # 32 is the documented max and must work
    assert "4294967295" in zorder_sql("x", "y", bits=32)


def test_bloom_semi_join_rejects_unmodeled_mixed_types(spark):
    """Regression (ADVICE r04): a numeric/string key pair used to hash
    the string cast, so join-equal values with different renderings
    (fact '7.00' vs dim 7.0) hashed apart and the bloom stage silently
    dropped a true match.  The post-coercion type is ANSI-dependent
    (ANSI even ERRORS on malformed strings), so every mixed pair —
    numeric/string, numeric/date, date/string — must raise and point
    the caller at an explicit cast."""
    import datetime

    import pytest as _pytest

    from aquiles_etl_pipeline_spark.relational.joins import bloom_semi_join

    fact = spark.createDataFrame([(1, 1)], "k int, payload int")
    dim_s = spark.createDataFrame([("7.00",)], "d string")
    with _pytest.raises(ValueError, match="mixed key types"):
        bloom_semi_join(fact, dim_s, "k", "d")
    dim_d = spark.createDataFrame([(datetime.date(2024, 1, 1),)], "d date")
    with _pytest.raises(ValueError, match="mixed key types"):
        bloom_semi_join(fact, dim_d, "k", "d")
    fact_s = spark.createDataFrame([("2024-01-01", 1)], "k string, payload int")
    with _pytest.raises(ValueError, match="mixed key types"):
        bloom_semi_join(fact_s, dim_d, "k", "d")
    # the documented escape hatch: cast both sides to one type first
    fact7 = spark.createDataFrame([(7, 1), (8, 2)], "k int, payload int")
    got = sorted(
        r["payload"]
        for r in bloom_semi_join(
            fact7.selectExpr("cast(k as double) k", "payload"),
            dim_s.selectExpr("cast(d as double) d"),
            "k",
            "d",
        ).collect()
    )
    assert got == [1]


@pytest.mark.slow
def test_range_join_pre1970_floor_buckets(spark):
    """Regression (ADVICE r04): `div` truncates toward zero, so bucket 0
    used to span (-bucket, +bucket) for negative epoch micros.  Floor
    bucketing must reproduce the naive theta join for timestamps on
    both sides of the epoch, including exact bucket boundaries."""
    import datetime

    from aquiles_etl_pipeline_spark.relational.joins import bucketized_range_join

    def ts(s):
        return datetime.datetime.fromisoformat(s)

    facts = spark.createDataFrame(
        [
            (1, ts("1969-12-31 23:59:59")),
            (2, ts("1969-12-31 18:00:00")),  # exactly -1 bucket boundary (6h)
            (3, ts("1969-12-31 17:59:59")),
            (4, ts("1970-01-01 00:00:00")),
            (5, ts("1969-06-15 12:00:00")),
            (6, ts("1970-01-01 05:59:59")),
        ],
        "fid int, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (10, ts("1969-12-31 19:00:00"), ts("1970-01-01 01:00:00")),
            (11, ts("1969-12-31 12:00:00"), ts("1969-12-31 18:00:01")),
            (12, ts("1969-06-15 00:00:00"), ts("1969-06-16 00:00:00")),
        ],
        "iid int, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        (r["fid"], r["iid"])
        for r in bucketized_range_join(facts, intervals).collect()
    )
    want = sorted(
        (r["fid"], r["iid"])
        for r in facts.join(
            intervals,
            (facts.ts >= intervals.start_ts) & (facts.ts < intervals.end_ts),
        ).collect()
    )
    assert got == want
    assert (1, 10) in got and (2, 11) in got and (5, 12) in got


def test_linear_fit_raises_outside_decimal_domain(spark):
    """Regression (ADVICE r04): a |value| >= 1e8 nulls out under the
    decimal(12,4) cast and used to silently skew the fit while n still
    counted the row; the plan must now raise at execution time."""
    import pytest as _pytest

    from aquiles_etl_pipeline_spark.relational.sketches import linear_fit

    bad = spark.createDataFrame(
        [(1.0, 2.0, "g"), (2.0, 1.0e8, "g"), (3.0, 4.0, "g")],
        "x double, y double, g string",
    )
    with _pytest.raises(Exception, match="decimal\\(12,4\\) domain"):
        linear_fit(bad, "x", "y", "g").collect()
    # clean inputs still fit (and count NULL inputs without raising)
    ok = spark.createDataFrame(
        [(1.0, 2.0, "g"), (2.0, None, "g"), (3.0, 4.0, "g")],
        "x double, y double, g string",
    )
    assert linear_fit(ok, "x", "y", "g").collect()[0]["n"] == 3


def test_column_stats_profile_sketch_matches_exact_for_integrals(spark):
    """mode='sketch' must agree with mode='exact' on every stat for
    integral columns (the bitmap path is exact, not approximate), keep
    nulls out of distincts, and fall back to HLL for non-integral
    columns (value within the default ~5% rsd of truth)."""
    from aquiles_etl_pipeline_spark.relational.sketches import column_stats_profile

    rows = [(i % 7, i % 3 if i % 5 else None, f"s{i % 11}") for i in range(200)]
    df = spark.createDataFrame(rows, "a int, b int, s string")
    exact = {
        r["column_name"]: r.asDict()
        for r in column_stats_profile(df, ["a", "b", "s"], mode="exact").collect()
    }
    sketch = {
        r["column_name"]: r.asDict()
        for r in column_stats_profile(df, ["a", "b", "s"], mode="sketch").collect()
    }
    for c in ("a", "b"):
        assert sketch[c] == exact[c], f"bitmap path diverged for {c}"
    s_ex, s_sk = exact["s"], sketch["s"]
    for k in ("n_rows", "n_nulls", "min_value", "max_value"):
        assert s_sk[k] == s_ex[k]
    assert abs(s_sk["n_distinct"] - s_ex["n_distinct"]) <= max(2, 0.15 * s_ex["n_distinct"])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown mode"):
        column_stats_profile(df, ["a"], mode="hll")


def test_column_stats_profile_sketch_edge_domains(spark):
    """Sketch mode must stay exact for NEGATIVE integral values (floor
    bitmap coordinates: -1 and 63 aliased under truncating div) and
    report n_distinct = 0 — not NULL — for an all-null integral column
    (the bitmap branch has no surviving row to join back)."""
    from aquiles_etl_pipeline_spark.relational.sketches import column_stats_profile

    rows = [(v, None) for v in (-1, 63, -64, 0, -1)]
    df = spark.createDataFrame(rows, "a int, b int")
    prof = {
        r["column_name"]: r.asDict()
        for r in column_stats_profile(df, ["a", "b"], mode="sketch").collect()
    }
    assert prof["a"]["n_distinct"] == 4
    assert prof["b"]["n_distinct"] == 0
    assert prof["b"]["n_nulls"] == 5


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=0,
        max_size=60,
    ),
    chain_len=st.integers(min_value=0, max_value=12),
)
@pytest.mark.slow
def test_star_cc_equals_label_propagation(spark, edges, chain_len):
    """BOTH of connected_components_star's strategies — the driver
    union-find fast path (default on small edge sets) and the
    distributed large-star/small-star contraction (forced with
    driver_cc_max_edges=0) — must produce IDENTICAL
    (node, component-min) labels to the min-label propagation on any
    random graph, including self-loops, duplicate/reversed edges, a
    high-diameter chain, and isolated nodes."""
    from aquiles_etl_pipeline_spark.llmdata.dedup import (
        connected_components,
        connected_components_star,
    )

    all_edges = list(edges) + [(100 + i, 100 + i + 1) for i in range(chain_len)]
    nodes = sorted({x for e in all_edges for x in e} | {999})
    E = spark.createDataFrame(all_edges or [(0, 0)], "id_a long, id_b long")
    N = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    a = sorted((r["_n"], r["_comp"]) for r in connected_components(E, N).collect())
    b = sorted(
        (r["_n"], r["_comp"]) for r in connected_components_star(E, N).collect()
    )
    c = sorted(
        (r["_n"], r["_comp"])
        for r in connected_components_star(E, N, driver_cc_max_edges=0).collect()
    )
    assert a == b
    assert a == c


def test_star_cc_refuses_unconverged_exit(spark):
    """Exhausting max_iter before the terminal star state must raise:
    the final node join would otherwise fan out to duplicate
    (node, component) rows, silently breaking the one-row-per-node
    contract (a max_iter=1 run on a long chain cannot converge)."""
    import pytest as _pytest

    from aquiles_etl_pipeline_spark.llmdata.dedup import connected_components_star

    chain = [(i, i + 1) for i in range(40)]
    E = spark.createDataFrame(chain, "id_a long, id_b long")
    N = spark.createDataFrame([(n,) for n in range(41)], "doc_id long")
    with _pytest.raises(RuntimeError, match="did not reach the terminal state"):
        # driver_cc_max_edges=0 forces the distributed rounds — the
        # driver union-find fast path has no iteration limit to exhaust
        connected_components_star(
            E, N, max_iter=1, driver_cc_max_edges=0
        ).collect()
    # an edge-free graph is terminal before any round — no raise
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components_star(empty, N, max_iter=1)
    assert out.count() == 41


def test_group_holdout_split_integrity(spark):
    """Every row of a group must land in ONE split (the leakage
    defense the operator exists for), assignment must be rerun-stable,
    and the weights must cover [0, 100)."""
    from aquiles_etl_pipeline_spark.llmdata.sampling import group_holdout_split

    rows = [(f"d{i}", f"src{i % 13}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    out = group_holdout_split(df, "source").collect()
    by_group: dict[str, set[str]] = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values()), by_group
    # rerun-stable (pure hash projection, no RNG)
    again = {(r["doc_id"], r["split"]) for r in group_holdout_split(df, "source").collect()}
    assert again == {(r["doc_id"], r["split"]) for r in out}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 100"):
        group_holdout_split(df, "source", weights={"train": 50, "test": 40})


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        min_size=1,
        max_size=25,
    )
)
def test_trailing_ewma_matches_reference(spark, vals):
    """trailing_ewma must equal the brute-force trailing-8 weighted
    mean computed in Python for one key, including NULL values and
    rows whose whole trailing window is NULL."""
    from aquiles_etl_pipeline_spark.relational.timeseries import trailing_ewma

    rows = [(1, i, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, value double")
    got = {
        r["event_id"]: (r["ewma8"], r["sma8"], r["n_trail"])
        for r in trailing_ewma(df, order_cols=("ts", "event_id")).collect()
    }
    for i in range(len(vals)):
        window = [vals[i - j] for j in range(8) if i - j >= 0]
        present = [(v, 0.5**j) for j, v in enumerate(window) if v is not None]
        if not present:
            assert got[i] == (None, None, 0)
            continue
        num = sum(v * w for v, w in present)
        den = sum(w for _, w in present)
        sm = sum(v for v, _ in present)
        e, s, n = got[i]
        assert n == len(present)
        assert abs(e - num / den) < 1e-6 + 1e-9
        assert abs(s - sm / len(present)) < 1e-6 + 1e-9


def test_score_calibration_matrix_invariants(spark):
    """Cell doc counts must sum to the table size, group percents stay
    in [0, 1], deciles in [1, 10], and a uniformly-strong group shows a
    positive calibration gap while a weak one shows a negative gap."""
    from aquiles_etl_pipeline_spark.llmdata.textstats import score_calibration_matrix

    rows = [("weak", float(i % 50)) for i in range(100)] + [
        ("strong", 100.0 + i % 50) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "source string, score double")
    out = score_calibration_matrix(df, "source", "score").collect()
    assert sum(r["n_docs"] for r in out) == 200
    assert all(1 <= r["global_decile"] <= 10 for r in out)
    assert all(0.0 <= r["avg_group_pct"] <= 1.0 for r in out)
    gap = {
        src: sum(r["avg_calibration_gap"] * r["n_docs"] for r in out if r["source"] == src)
        / sum(r["n_docs"] for r in out if r["source"] == src)
        for src in ("weak", "strong")
    }
    assert gap["strong"] > 0.2
    assert gap["weak"] < -0.2


def test_mutual_best_match_election(spark):
    """One-to-one linkage: a pair survives iff each side is the
    other's argmax; ties break toward the smaller partner key; a
    record whose best match prefers someone else stays unlinked."""
    from aquiles_etl_pipeline_spark.relational.joins import mutual_best_match

    cand = spark.createDataFrame(
        [
            # L1's best is R1 (0.9); R1's best is L1 -> mutual
            (1, 1, 0.9), (1, 2, 0.5), (2, 1, 0.6),
            # L2's best is R1 (0.6) but R1 prefers L1 -> L2 unlinked,
            # and its runner-up R2 (0.4) never gets considered
            (2, 2, 0.4),
            # tie: L3 scores R3 and R4 equally -> smaller key R3 wins;
            # R3's only suitor is L3 -> mutual
            (3, 3, 0.7), (3, 4, 0.7),
            # R4's best is L3 but L3 took R3 -> R4 unlinked
        ],
        "l int, r int, s double",
    )
    got = {(x["l"], x["r"]) for x in
           mutual_best_match(cand, "l", "r", "s").collect()}
    assert got == {(1, 1), (3, 3)}


def test_grid_neighbor_join_equals_brute_force(spark):
    """Cell-binned pair mining must equal the O(n^2) definition,
    including negative coordinates (floor-division cells) and exact
    radius-boundary hits (integer distance, no epsilon)."""
    import random

    from aquiles_etl_pipeline_spark.relational.joins import grid_neighbor_join

    rng = random.Random(178)
    pts = [
        (i, rng.randint(-40, 40), rng.randint(-40, 40)) for i in range(120)
    ]
    # plant an exact boundary pair: dist_sq == r^2 must be INCLUDED
    pts += [(500, 1000, 1000), (501, 1006, 1008)]  # 36+64 = 100 = 10^2
    df = spark.createDataFrame(pts, "id int, x long, y long")
    r = 10
    got = {
        (row["id_a"], row["id_b"], row["dist_sq"])
        for row in grid_neighbor_join(df, "id", "x", "y", r).collect()
    }
    expect = set()
    for i, xi, yi in pts:
        for j, xj, yj in pts:
            d2 = (xi - xj) ** 2 + (yi - yj) ** 2
            if i < j and d2 <= r * r:
                expect.add((i, j, d2))
    assert got == expect
    assert (500, 501, 100) in got


def test_reflected_balance_equals_sequential_fold(spark):
    """The Skorokhod-reflection window form must equal the stateful
    per-row recurrence b_t = max(0, b_{t-1} + d_t), including floor
    hits and interleaved keys."""
    import random

    from aquiles_etl_pipeline_spark.relational.timeseries import (
        reflected_running_balance,
    )

    rng = random.Random(191)
    rows = []
    eid = 0
    for u in range(6):
        for t in range(40):
            rows.append((u, t, eid, rng.randint(-30, 25)))
            eid += 1
    df = spark.createDataFrame(rows, "user_id int, ts int, event_id int, delta long")
    got = {
        (r["user_id"], r["ts"]): r["balance"]
        for r in reflected_running_balance(df).collect()
    }
    for u in range(6):
        b = 0
        for t in range(40):
            d = next(r[3] for r in rows if r[0] == u and r[1] == t)
            b = max(0, b + d)
            assert got[(u, t)] == b, f"user {u} t {t}"


def test_position_attribution_exact_u_split(spark):
    """Pinned hand-computed U-shaped credits: 4-touch session splits
    40/20/20/40 with integer-exact micros, 2 touches split 50/50, a
    single touch takes a full refund (negative) untouched, a goal
    with no touches lands in __unattributed__, and credits sum to the
    total goal value EXACTLY."""
    import datetime as dt

    from aquiles_etl_pipeline_spark.relational.timeseries import (
        position_attribution,
    )

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        (1, T(0), "click_a", 0.0, 1), (1, T(1), "click_b", 0.0, 2),
        (1, T(2), "click_c", 0.0, 3), (1, T(3), "click_d", 0.0, 4),
        (1, T(4), "purchase", 10.01, 5),
        (2, T(0), "click_a", 0.0, 6), (2, T(1), "purchase", -5.55, 7),
        (3, T(0), "click_a", 0.0, 8), (3, T(1), "click_b", 0.0, 9),
        (3, T(2), "purchase", 0.03, 10),
        (4, T(0), "purchase", 7.77, 11),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id bigint, ts timestamp, event_type string, "
        "value double, event_id bigint",
    )
    got = {
        r["touchpoint"]: (r["n_credits"], r["attributed_value"])
        for r in position_attribution(df).collect()
    }
    assert got == {
        # 4.004 (first of 4) - 5.55 (lone touch, refund) + 0.015 (50/50)
        "click_a": (3, -1.531),
        # 1.001 (middle) + 0.015 (50/50)
        "click_b": (2, 1.016),
        "click_c": (1, 1.001),   # middle of 4
        "click_d": (1, 4.004),   # last of 4
        "__unattributed__": (1, 7.77),
    }
    total = sum(v for _, v in got.values())
    assert round(total, 6) == round(10.01 - 5.55 + 0.03 + 7.77, 6)


# families of exact-scaled duplicate vectors: (basis index, positive
# scale, copy count).  Scaled copies of the same basis vector have
# cosine EXACTLY 1 and identical LSH hyperplane signs (sign(dot(p, c*v))
# == sign(dot(p, v)) for c > 0), so mining recall on these pairs is
# exactly 1.0 and brute-force equality is deterministic; distinct basis
# vectors have cosine 0, safely under any practical threshold.
FAMILIES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),   # basis index (dim 8)
        st.integers(min_value=1, max_value=5),   # positive scale
        st.integers(min_value=1, max_value=4),   # copies
    ),
    min_size=1,
    max_size=8,
)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(families=FAMILIES, n_zero=st.integers(min_value=0, max_value=2))
def test_semantic_dedup_collapse_equals_bruteforce_cc(spark, families, n_zero):
    """The exact-duplicate collapse changes the PLAN, never the answer:
    semantic_dedup must equal a brute-force all-pairs-cosine union-find
    on corpora with dense exact/scaled duplicates plus zero vectors
    (whose self-cosine is undefined -> they must stay singletons, the
    case a naive 'identical vectors are always near-dups' collapse
    gets wrong)."""
    from aquiles_etl_pipeline_spark.llmdata.similarity import semantic_dedup

    dim = 8
    vecs: list[list[float]] = []
    for basis, scale, copies in families:
        v = [0.0] * dim
        v[basis] = float(scale)
        vecs.extend([list(v)] * copies)
    vecs.extend([[0.0] * dim] * n_zero)
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    # brute-force oracle: all-pairs cosine >= 0.9 -> union-find
    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den if den else None

    parent = list(range(len(vecs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            c = cos(vecs[i], vecs[j])
            if c is not None and c >= 0.9:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    comp = {i: find(i) for i in range(len(vecs))}
    size: dict[int, int] = {}
    for c in comp.values():
        size[c] = size.get(c, 0) + 1
    want = {
        i: (comp[i], size[comp[i]], i == comp[i]) for i in range(len(vecs))
    }

    got = {
        r["vec_id"]: (r["component_id"], r["cluster_size"], r["is_canonical"])
        for r in semantic_dedup(df, threshold=0.9, dim=dim).collect()
    }
    assert got == want


def test_semantic_dedup_nan_vectors_stay_singletons(spark):
    """Identical NaN-bearing vectors must NOT collapse into a cluster:
    Spark's total ordering makes NaN >= threshold TRUE, so the collapse
    eligibility check needs the explicit no-NaN-element guard — the
    pairwise miner's Arrow cosine nulls NaN out of the >= filter, and
    the collapse must match that behavior exactly (review-found
    regression)."""
    from aquiles_etl_pipeline_spark.llmdata.similarity import semantic_dedup

    nan = float("nan")
    rows = [
        (1, [nan, 1.0, 0.0, 0.0]),
        (2, [nan, 1.0, 0.0, 0.0]),  # identical NaN vector -> dup hash
        (3, [0.0, 5.0, 0.0, 0.0]),
        (4, [0.0, 10.0, 0.0, 0.0]),  # scaled copy of 3: cosine 1
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        r["vec_id"]: (r["component_id"], r["cluster_size"], r["is_canonical"])
        for r in semantic_dedup(df, threshold=0.9, dim=4).collect()
    }
    assert got[1] == (1, 1, True)   # NaN rows: singletons
    assert got[2] == (2, 1, True)
    assert got[3] == (3, 2, True)   # real near-dups still cluster
    assert got[4] == (3, 2, False)
