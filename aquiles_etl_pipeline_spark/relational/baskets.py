"""Shared market-basket kernel.

The distinct-(order, part) -> size-capped-basket front-end is the
entry point of every co-purchase query (q328 Adamic-Adar, q352 local
clustering coefficient, q356 rule interest measures, and the q88/q201
lineage they extend).  One source keeps the eligibility rule — basket
size in [2, 16] — byte-identical across consumers and their SQL twins.

The size cap is the SCALE contract, not a convenience: a pair
expansion over capped baskets is bounded at C(max_size, 2) candidate
pairs per order regardless of any part's global popularity, which is
what lets the co-purchase queries survive a whale part (30% of all
lineitems on one l_partkey) with zero plan changes — see
SCALE_STRESS_r09.md §2/§4.

Persistence stays with the caller (the PERSIST_PRONE contract): these
helpers return lazy frames; a query that fans the basket table into
several consumers decides where the localCheckpoint goes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def distinct_order_parts(li: DataFrame) -> DataFrame:
    """Distinct ``(ord, part)`` rows from a lineitem-shaped frame —
    basket membership, multiplicity collapsed."""
    return li.select(
        F.col("l_orderkey").alias("ord"), F.col("l_partkey").alias("part")
    ).distinct()


def capped_baskets(
    li: DataFrame, min_size: int = 2, max_size: int = 16
) -> DataFrame:
    """``(ord, parts)`` basket rows — the sorted DISTINCT part array per
    eligible order.  ONE distinct + ONE groupBy build the table (no
    self-join); consumers explode :func:`pair_array` for pairs and
    ``explode(parts)`` for degrees, so the corpus shuffles once on the
    order key instead of twice through a pair self-join."""
    op = distinct_order_parts(li)
    return (
        op.groupBy("ord")
        .agg(F.sort_array(F.collect_set("part")).alias("parts"))
        .where(
            (F.size("parts") >= min_size) & (F.size("parts") <= max_size)
        )
    )


def pair_array(parts: F.Column | str = "parts") -> F.Column:
    """All ordered (pa < pb) pairs of a sorted basket array as an
    ``array<struct<pa, pb>>`` — the in-row pair expansion (a codegen
    transform/slice, no join) whose size is bounded by C(max_size, 2)
    per basket.  Explode it next to whatever per-basket payload the
    query carries."""
    col = F.col(parts) if isinstance(parts, str) else parts
    return F.flatten(
        F.transform(
            col,
            lambda x, i: F.transform(
                F.slice(col, i + F.lit(2), F.size(col)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
