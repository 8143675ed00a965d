"""Query catalog: the engine's declared capability surface.

Each entry pairs an idiomatic-PySpark query (DataFrame API, Catalyst-
optimizable) with an ANSI-SQL oracle that DuckDB runs over the same
parquet tables — the driver's correctness gate compares the two
(row-count + schema + order-insensitive value hash).  Column names and
value types are aligned on both sides; every computed column aliased
identically.

Output-type discipline (learned from the round-1 gate): fractional
OUTPUT columns are always DOUBLE, never DECIMAL.  The driver fetches
Spark decimals as `Decimal('123.40')` (scale-preserving render) but the
oracle's decimals as floats (`123.4`), so any decimal output column
whose value has a trailing zero hash-mismatches even when the values
are numerically identical — r01 flipped 18/37 queries red this way.
Aggregates still CAST EACH INPUT TO DECIMAL first (see ``money``) so
the sum itself is exact integer arithmetic; only the final emitted
column is cast to double, which both engines convert identically
(nearest-double of the same exact decimal → bit-equal float64).

Scale notes are inline per query: which side broadcasts, where the
shuffle lands, what AQE is expected to do at 100 TB.

``registry()`` lists the queries in registration order (module import
order, then source order).  The order the driver grades them in is not
kept here: ``__spark_entry__`` derives it from the driver's
``CORRECTNESS_r*.json`` records.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalar

DEC = "decimal(18,2)"


_LOAD_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table.

    ``events`` needs special handling when its parquet carries INT64
    TIMESTAMP(NANOS), which Spark's reader rejects outright — sessions
    read the raw nanos (session._PARQUET_READ_CONFS) and we floor-convert
    to microsecond timestamps, matching DuckDB's floor-truncation.
    Datasets written with plain micro timestamps read straight through,
    so the conversion is schema-sensitive, not hardcoded.

    Loading readies the session first (session.prepare_session: a
    no-op for a session already readied, such as get_spark's; once for
    a foreign one).  Apart from that and the shuffle tuner it sets no
    session conf, so a read never depends on which tables were loaded
    before it.

    Frames are memoized per (session, dir, table): a DataFrame is an
    immutable plan, so reuse across the catalog sweep is free and
    skips the per-query file-listing + footer schema-inference round —
    fixed driver-side cost that a 120-entry catalog pays ~300 times.
    Keyed by applicationId (see session.session_key), never id(spark).
    """
    from ..session import (
        prepare_session,
        session_key,
        tune_batch_shuffle_partitions,
    )

    # input-derived shuffle sizing, re-derived whenever the session
    # switches dataset dirs, so it runs before the memo below — see
    # session.tune_batch_shuffle_partitions (r11)
    tune_batch_shuffle_partitions(spark, sf_dir)
    key = (session_key(spark), sf_dir, name)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached

    # a foreign session (the grading driver's) gets the parquet read
    # confs, and the package for its Python workers, on first load
    prepare_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer `div`, NOT floor(ts/1000): double division of ~1.7e18
            # nanos is only precise to ~256 ns (53-bit mantissa) and rounds
            # some micros up by 1 vs DuckDB's exact truncation
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _LOAD_CACHE[key] = df
    return df


def money(col_name: str) -> F.Column:
    """Exact-decimal view of a double money column.

    Aggregation discipline for oracle parity: NEVER sum raw doubles —
    float addition is not associative, so Spark's partial-aggregation
    order vs DuckDB's produces last-ulp drift that can flip a 2-decimal
    rounding. Casting each value to DECIMAL first makes the sum exact
    integer arithmetic: order-independent, identical in both engines,
    and at 100 TB also reproducible run-to-run.
    """
    return F.col(col_name).cast(DEC)


def emit(col: F.Column) -> F.Column:
    """Final-output cast for fractional columns: DOUBLE, never DECIMAL
    (see module docstring — decimal outputs hash-mismatch in the
    driver's gate on any trailing-zero value)."""
    return col.cast("double")


# Portable fixed-point round — see numerics.pround (re-exported here
# because every catalog module already imports from catalog).
from ..numerics import pround  # noqa: E402,F401


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → non-SQL-expressible (rows-only check)
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(name, fn, sql, doc, tags)
        return fn

    return deco


def registry() -> dict[str, QuerySpec]:
    """Every registered query, in registration order.  The driver's
    grading order is ``__spark_entry__``'s, read from its records."""
    return dict(_REGISTRY)


# ---------------------------------------------------------------------------
# Aggregations / scans
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)      AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(24,6)) AS DOUBLE)     AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)                  AS avg_qty,
           COUNT(*)                                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: single wide scan + hash agg. "
        "Scale: partial (map-side) aggregation -> tiny shuffle; predicate and "
        "4-column pruning pushed to parquet.",
    tags=("agg", "scan"),
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            emit(F.sum(money("l_quantity")).cast(DEC)).alias("sum_qty"),
            emit(F.sum(money("l_extendedprice")).cast(DEC)).alias("sum_base_price"),
            # scale-6 intermediate: the sum is EXACT decimal arithmetic;
            # keeping full scale avoids a rounding step whose half-way
            # rule differs across engines (HALF_UP vs half-even).
            emit(
                F.sum(money("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(18,4)")))
                .cast("decimal(24,6)")
            ).alias("sum_disc_price"),
            (F.sum(money("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q02_regional_revenue",
    sql="""
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DECIMAL(24,6)) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n    ON n.n_regionkey = r.r_regionkey
    JOIN customer c  ON c.c_nationkey = n.n_nationkey
    JOIN orders o    ON o.o_custkey   = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey  = o.o_orderkey
    JOIN supplier s  ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-style star join: region/nation/supplier broadcast "
        "(F.broadcast), orders–lineitem is the only real shuffle; local-nation "
        "constraint applied as a join predicate. Scale: AQE picks "
        "broadcast automatically for dims <10MB; fact-fact join shuffles on "
        "orderkey only.",
    tags=("join", "agg"),
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    dim = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(dim, c.c_nationkey == dim.n_nationkey)
        .groupBy("n_name")
        .agg(
            emit(
                F.sum(money("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(18,4)")))
                .cast("decimal(24,6)")
            ).alias("revenue")
        )
    )


@register(
    "q03_top_customers",
    sql="""
    SELECT c.c_custkey, c.c_name,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_spent,
           COUNT(*) AS order_count
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spent DESC, c.c_custkey
    LIMIT 10
    """,
    doc="Top-k with deterministic tiebreak (custkey). Scale: agg on the "
        "orders side first, then TakeOrderedAndProject — no global sort "
        "materialization.",
    tags=("agg", "topk", "join"),
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(emit(F.sum(money("o_totalprice")).cast(DEC)).alias("total_spent"), F.count("*").alias("order_count"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select("c_custkey", "c_name", "total_spent", "order_count")
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "q04_order_priority",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-style left-semi join + agg. Scale: semi-join shuffles "
        "only the distinct join keys of the probe side.",
    tags=("join", "semi"),
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Windows / rollups / set ops
# ---------------------------------------------------------------------------

@register(
    "q05_customer_rank_window",
    sql="""
    SELECT c_custkey, c_nationkey, c_acctbal AS acctbal, rnk
    FROM (SELECT c_custkey, c_nationkey, c_acctbal,
                 RANK() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rnk
          FROM customer)
    WHERE rnk <= 3
    """,
    doc="Window rank, top-3 per nation. Scale: single hash-partition "
        "shuffle on nationkey; skewed nations handled by AQE.",
    tags=("window",),
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select("c_custkey", "c_nationkey", F.col("c_acctbal").alias("acctbal"), "rnk")
    )


@register(
    "q06_rollup_region_nation",
    sql="""
    SELECT r.r_name, n.n_name,
           COUNT(o.o_orderkey) AS order_count,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    doc="Hierarchical rollup (region -> nation -> grand total). Scale: "
        "Spark expands grouping sets map-side; one shuffle.",
    tags=("rollup", "agg"),
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    dim = F.broadcast(n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name", "r_name"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(dim, c.c_nationkey == dim.n_nationkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            emit(F.sum(money("o_totalprice")).cast(DEC)).alias("total_price"),
        )
    )


@register(
    "q07_brand_top_parts",
    sql="""
    SELECT p_brand, p_partkey, p_retailprice AS retailprice
    FROM (SELECT p_brand, p_partkey, p_retailprice,
                 ROW_NUMBER() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part)
    WHERE rn <= 5
    """,
    doc="Per-group top-k via row_number (deterministic tiebreak).",
    tags=("window", "topk"),
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("p_brand", "p_partkey", F.col("p_retailprice").alias("retailprice"))
    )


@register(
    "q08_customers_without_orders",
    sql="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2000-01-01')
    """,
    doc="Anti join (reference P11/ledger-skip shape). Scale: "
        "broadcast-anti when the key set fits, else shuffled anti join.",
    tags=("join", "anti"),
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q09_segment_intersect",
    sql="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
    doc="Set op: INTERSECT of two key sets.",
    tags=("setop",),
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    building = c.where((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0)).select("c_custkey")
    with_orders = o.select(F.col("o_custkey").alias("c_custkey"))
    return building.intersect(with_orders)


@register(
    "q10_segment_except",
    sql="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderdate < DATE '1997-01-01'
    """,
    doc="Set op: EXCEPT (distinct).",
    tags=("setop",),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    machinery = c.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    early = o.where(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return machinery.subtract(early)


# ---------------------------------------------------------------------------
# Events (batch views of the streaming surface)
# ---------------------------------------------------------------------------

@register(
    "q11_events_hourly",
    sql="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS event_count,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour windows (batch equivalent of the streaming "
        "windowed agg). Scale: partial agg then shuffle on (hour, type).",
    tags=("events", "window-agg"),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("event_count"),
            emit(F.sum(money("value")).cast(DEC)).alias("total_value"),
        )
    )


@register(
    "q12_event_sessions",
    sql="""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS session_count
    FROM flagged GROUP BY user_id
    """,
    doc="Sessionization (30-min inactivity gap) expressed relationally: "
        "lag + cumulative flag. Streaming twin lives in streaming/ as a "
        "session window. Scale: one shuffle on user_id.",
    tags=("events", "session", "window"),
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    return (
        e.withColumn("new_session", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("bigint").alias("session_count"))
    )


@register(
    "q13_events_json_props",
    sql="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
                / COUNT(json_extract_string(props, '$.k')) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured JSON column: extract + aggregate. Spark side uses "
        "get_json_object (codegen'd JSON path).",
    tags=("events", "json"),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# ETL scalar-function parity (oracle-checked versions of SURVEY §2.3)
# ---------------------------------------------------------------------------

@register(
    "q14_etl_price_clean",
    sql="""
    SELECT o_orderkey,
           CAST(CAST(regexp_replace(
                  '$' || CAST(o_orderkey AS VARCHAR) || ',' ||
                  CAST(o_orderkey % 100 AS VARCHAR),
                  '[.,$ ]', '', 'g') AS DECIMAL(18,2)) AS DOUBLE) AS clean_price
    FROM orders
    """,
    doc="F2 transform_price parity under oracle: separator-stripping on "
        "deterministically constructed messy price strings.",
    tags=("etl", "scalar"),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    messy = F.concat(
        F.lit("$"),
        F.col("o_orderkey").cast("string"),
        F.lit(","),
        (F.col("o_orderkey") % 100).cast("string"),
    )
    return o.select("o_orderkey", emit(scalar.clean_price(messy)).alias("clean_price"))


@register(
    "q15_etl_text_clean",
    sql="""
    SELECT c_custkey,
           regexp_replace(c_name, '[^A-Za-z0-9/% ]+', '', 'g') AS no_specials,
           regexp_replace(regexp_replace(c_name, '[^A-Za-z0-9/% ]+', '', 'g'),
                          '([a-z])([A-Z0-9])', '\\1 \\2', 'g') AS camel_split
    FROM customer
    """,
    doc="F3+F4 parity under oracle: special-char removal then camel-case "
        "split over customer names.",
    tags=("etl", "scalar"),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    no_specials = scalar.remove_special_characters(F.col("c_name"))
    return c.select(
        "c_custkey",
        no_specials.alias("no_specials"),
        scalar.separate_camel_case(no_specials).alias("camel_split"),
    )


@register(
    "q16_etl_iva_extract",
    sql="""
    SELECT p_partkey,
           CAST(CASE WHEN regexp_extract(p_name || ' (G' || CAST(p_size AS VARCHAR) || ')',
                                         '\\(\\s*[Gg]\\s*(\\d+)\\s*\\)', 1) = ''
                     THEN NULL
                     ELSE regexp_extract(p_name || ' (G' || CAST(p_size AS VARCHAR) || ')',
                                         '\\(\\s*[Gg]\\s*(\\d+)\\s*\\)', 1)
                END AS INT) AS iva
    FROM part
    """,
    doc="F13 extract_iva parity under oracle on synthesized (G<n>) tags.",
    tags=("etl", "scalar"),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    tagged = F.concat(F.col("p_name"), F.lit(" (G"), F.col("p_size").cast("string"), F.lit(")"))
    return p.select("p_partkey", scalar.extract_iva(tagged).alias("iva"))


# ---------------------------------------------------------------------------
# Documents / text analysis
# ---------------------------------------------------------------------------

@register(
    "q17_doc_dedup_exact",
    sql="""
    SELECT sha256(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS dup_count
    FROM documents
    GROUP BY sha256(text)
    """,
    doc="Exact deduplication by content hash: canonical survivor = min "
        "doc_id. Scale: shuffle on the 32-byte hash — uniform by "
        "construction, no skew; this is THE pattern for 100TB exact dedup.",
    tags=("dedup", "documents"),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count"))
    )


@register(
    "q18_doc_token_stats",
    sql="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           n_chars
    FROM documents
    """,
    doc="Whitespace token counting (text-analysis primitive), fully "
        "JVM-side via split/size.",
    tags=("text", "documents"),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        "n_chars",
    )


@register(
    "q19_doc_lang_stats",
    sql="""
    SELECT lang,
           COUNT(*) AS doc_count,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
    doc="Corpus profile by language.",
    tags=("text", "documents"),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("doc_count"),
        (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# Embeddings / similarity search
# ---------------------------------------------------------------------------

@register(
    "q20_cosine_topk",
    sql="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id, e.label,
             CAST(ROUND((list_dot_product(e.embedding, q.qv) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(q.qv, q.qv)))) * 1e4) AS BIGINT) / 1e4 AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine_sim FROM sims
    ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """,
    doc="Brute-force cosine top-k against a query vector, computed with "
        "native higher-order functions (zip_with + aggregate) — no UDF. "
        "Scale: embarrassingly parallel map + TakeOrdered; the LSH/IVF "
        "variant in llmdata/ is the 100TB path.",
    tags=("similarity", "embeddings", "topk"),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    qv = F.broadcast(e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv")))
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select("vec_id", "label", pround(sim, 4).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "q43_grouping_sets_returns",
    sql="""
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Mixed GROUPING SETS (finer than ROLLUP/CUBE alone): detail, "
        "per-flag, and grand-total levels in one pass.  Scale: Spark "
        "expands grouping sets in a single shuffle with partial aggs; "
        "null grouping cells disambiguated via COALESCE sentinel.",
    tags=("agg", "grouping-sets"),
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            emit(F.sum(money("l_quantity")).cast(DEC)).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "sum_qty",
            "n",
        )
    )


@register(
    "q44_order_status_pivot",
    sql="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Pivot: order counts by priority x status, statuses spread to "
        "columns.  Scale: pivot with an explicit value list is one "
        "hash agg (no distinct-values pre-pass); missing cells "
        "normalized to 0 to match conditional-aggregation semantics.",
    tags=("agg", "pivot"),
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every star-schema table as a temp view so users can
    drive the engine with raw ``spark.sql`` — the same declarative
    surface the DataFrame catalog uses, exposed SQL-first.  Views are
    lazy; registration launches no jobs (events' timestamp fix-up in
    ``load`` folds into each view's plan)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
