"""Round-5 catalog entries, third batch (q166–q171): cross-source
quality-score calibration, recency-weighted trailing features,
group-integrity holdout splits, k-core peeling, small-cell suppression,
and the generic MERGE INTO — curation/feature/governance primitives a
training-data pipeline reaches for between scoring and sampling, each
expressed in the distribution-grain / fixed-lag / pure-projection /
mergeable-bitmap shapes that survive 100 TB, each graded against a
DuckDB oracle.  (q172, the streaming CDC apply built on merge_into,
lives with the other streaming harnesses in stream_queries.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import load, register, pround


# ---------------------------------------------------------------------------
# q166: per-source quality-score calibration matrix
# ---------------------------------------------------------------------------

@register(
    "q166_score_calibration",
    sql="""
    WITH g AS (
      SELECT n_chars AS score, COUNT(*) AS cg FROM documents GROUP BY 1
    ),
    gw AS (
      SELECT score,
             CAST(COALESCE(SUM(cg) OVER (
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumg,
             CAST(SUM(cg) OVER () AS BIGINT) AS n
      FROM g
    ),
    s AS (
      SELECT source, n_chars AS score, COUNT(*) AS cs
      FROM documents GROUP BY 1, 2
    ),
    sw AS (
      SELECT source, score, cs,
             CAST(COALESCE(SUM(cs) OVER (
               PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cums,
             CAST(SUM(cs) OVER (PARTITION BY source) AS BIGINT) AS ns
      FROM s
    ),
    j AS (
      SELECT sw.source, sw.cs, sw.cums, sw.ns, gw.cumg, gw.n,
             CAST(LEAST(10, (gw.cumg * 10) // gw.n + 1) AS INT)
               AS global_decile
      FROM sw JOIN gw USING (score)
    )
    SELECT source, global_decile,
           CAST(SUM(cs) AS BIGINT) AS n_docs,
           CAST(ROUND((CASE WHEN MIN(ns) > 1
             THEN CAST(SUM(CAST(cs AS DECIMAL(19,0)) * cums) AS DOUBLE)
                  / (CAST(MIN(ns) - 1 AS DOUBLE) * CAST(SUM(cs) AS DOUBLE))
             ELSE 0.0 END) * 1e6) AS BIGINT) / 1e6 AS avg_group_pct,
           CAST(ROUND((CASE WHEN MIN(n) > 1
             THEN CAST(SUM(CAST(cs AS DECIMAL(19,0)) * cumg) AS DOUBLE)
                  / (CAST(MIN(n) - 1 AS DOUBLE) * CAST(SUM(cs) AS DOUBLE))
             ELSE 0.0 END
             - CASE WHEN MIN(ns) > 1
             THEN CAST(SUM(CAST(cs AS DECIMAL(19,0)) * cums) AS DOUBLE)
                  / (CAST(MIN(ns) - 1 AS DOUBLE) * CAST(SUM(cs) AS DOUBLE))
             ELSE 0.0 END) * 1e6) AS BIGINT) / 1e6 AS avg_calibration_gap
    FROM j GROUP BY 1, 2
    """,
    doc="Cross-source quality-score calibration matrix (llmdata."
        "textstats.score_calibration_matrix): per (source, global "
        "score decile), the doc count, the mean WITHIN-source percent "
        "rank, and the calibration gap (global minus source rank — "
        "positive cells mark sources whose docs outrank their local "
        "standing, i.e. stronger-than-average sources).  The score "
        "normalization step that makes one quality threshold "
        "meaningful across heterogeneous sources.  Scale shape: all "
        "windows run on SCORE-DISTRIBUTION grain (raw rows collapse "
        "to (source, score) and (score) count frames first); the "
        "naive global percent_rank over raw rows is a single-"
        "partition whole-table sort.  Percent ranks stay ratios of "
        "exact integer cumulative counts (decimal-widened products), "
        "divided once — order-independent, hash-stable.",
    tags=("llmdata", "calibration", "documents"),
)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmdata.textstats import score_calibration_matrix

    return score_calibration_matrix(
        load(spark, sf_dir, "documents"), group_col="source", score_col="n_chars"
    )


# ---------------------------------------------------------------------------
# q167: recency-weighted trailing features (bounded-depth EWMA)
# ---------------------------------------------------------------------------

def _ewma_sql_terms(depth: int = 8, decay: float = 0.5) -> tuple[str, str, str, str]:
    """(num, den, sm, cnt) SQL fragments mirroring trailing_ewma's
    left-to-right term order exactly (same fixed-position float sum →
    bit-identical across engines)."""
    num, den, sm, cnt = "0.0", "0.0", "0.0", "0"
    for j in range(depth):
        v = "value" if j == 0 else f"lag(value, {j}) OVER uw"
        w = repr(decay**j)
        num += f" + CASE WHEN {v} IS NOT NULL THEN ({v}) * {w} ELSE 0.0 END"
        den += f" + CASE WHEN {v} IS NOT NULL THEN {w} ELSE 0.0 END"
        sm += f" + CASE WHEN {v} IS NOT NULL THEN ({v}) ELSE 0.0 END"
        cnt += f" + CASE WHEN {v} IS NOT NULL THEN 1 ELSE 0 END"
    return num, den, sm, cnt


_EWMA_NUM, _EWMA_DEN, _EWMA_SM, _EWMA_CNT = _ewma_sql_terms()

@register(
    "q167_ewma_user_features",
    sql=f"""
    WITH w AS (
      SELECT user_id, value,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
             ({_EWMA_NUM}) AS num,
             ({_EWMA_DEN}) AS den,
             ({_EWMA_SM}) AS sm,
             ({_EWMA_CNT}) AS cnt
      FROM events
      WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           value AS last_value,
           CASE WHEN cnt > 0 THEN CAST(ROUND((num / den) * 1e6) AS BIGINT) / 1e6 END AS ewma8,
           CASE WHEN cnt > 0 THEN CAST(ROUND((sm / cnt) * 1e6) AS BIGINT) / 1e6 END AS sma8,
           CAST(cnt AS INT) AS n_trail
    FROM w WHERE rn = 1
    """,
    doc="Recency-weighted user state (relational.timeseries."
        "trailing_ewma): each user's LATEST event annotated with the "
        "decay-0.5 EWMA and plain mean of their last 8 event values — "
        "the recency-feature primitive (fraud velocity, engagement "
        "decay) in its distributed-native form.  A true EWMA is a "
        "sequential recurrence; the bounded-depth form is 8 lag() "
        "columns over ONE hash(user) window — pure codegen, one "
        "shuffle, and the dropped tail holds <0.4% of the weight.  "
        "Fixed-position float arithmetic (no aggregation order), so "
        "the SQL twin is bit-identical.",
    tags=("timeseries", "features", "events"),
)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .timeseries import trailing_ewma

    e = trailing_ewma(load(spark, sf_dir, "events"))
    pw = Window.partitionBy("user_id")
    rn = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.select(
            "user_id",
            F.count("*").over(pw).alias("n_events"),
            F.col("value").alias("last_value"),
            "ewma8",
            "sma8",
            F.col("n_trail").cast("int").alias("n_trail"),
            F.row_number().over(rn).alias("_rn"),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# q168: group-integrity holdout split report
# ---------------------------------------------------------------------------

@register(
    "q168_group_holdout_split",
    sql="""
    WITH s AS (
      SELECT source, n_chars,
             ('0x' || substr(sha256(source), 1, 15))::BIGINT % 100 AS b
      FROM documents
    ),
    a AS (
      SELECT CASE WHEN b < 70 THEN 'train'
                  WHEN b < 85 THEN 'val'
                  ELSE 'test' END AS split,
             source, n_chars
      FROM s
    )
    SELECT split,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(ROUND((CAST(SUM(n_chars) AS DOUBLE)
                 / CAST(SUM(SUM(n_chars)) OVER () AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
             AS chars_share
    FROM a GROUP BY 1
    """,
    doc="Group-integrity holdout split (llmdata.sampling."
        "group_holdout_split): documents split 70/15/15 by hashing the "
        "SOURCE, so every doc of a source lands in one split — the "
        "leakage defense a row-keyed split (q48) cannot give, since "
        "near-duplicates cluster within a source and row-splitting "
        "puts one copy in train and its twin in test.  Assignment is "
        "a pure sha-hash projection (no RNG, no shuffle, append-"
        "stable); the report aggregates per split: source count, doc "
        "count, char mass and its share (single exact-integer "
        "division over a 3-row window).  The zero-leakage property — "
        "no source in two splits — is structural, pinned by a "
        "property test rather than an audit column.",
    tags=("llmdata", "sampling", "split", "documents"),
)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmdata.sampling import group_holdout_split

    d = group_holdout_split(
        load(spark, sf_dir, "documents"),
        "source",
        weights={"train": 70, "val": 15, "test": 15},
    )
    agg = d.groupBy("split").agg(
        F.countDistinct("source").alias("n_sources"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return agg.select(
        "split",
        "n_sources",
        "n_docs",
        "sum_chars",
        pround(F.col("sum_chars").cast("double")
            / F.sum("sum_chars").over(Window.partitionBy()).cast("double"), 6).alias("chars_share"),
    )


# ---------------------------------------------------------------------------
# q169: k-core peeling telemetry over the part<->supplier graph
# ---------------------------------------------------------------------------

def kcore_peel_stats(
    edges: DataFrame, k: int = 3, rounds: int = 4
) -> DataFrame:
    """Fixed-round k-core peeling over a symmetric (src, dst) edge
    list: each round drops every node of degree < k and the edges
    touching it, and reports (round, n_parts, n_suppliers, n_edges)
    for the surviving graph — the density-core extraction primitive
    (spam rings, co-purchase backbones) in its Pregel-round shape.

    FIXED rounds, not peel-to-fixpoint: like pagerank_int's three
    unrolled iterations, a deterministic round count is what an
    independent SQL oracle can replay as chained CTEs; on these graphs
    the peel stabilizes within the window (visible in the telemetry —
    consecutive equal rows), and at 100 TB you would loop the same
    body until a round removes nothing.  Per round: one degree
    aggregation + two semi-shaped joins keyed on the node id — the
    same hash distribution every round.  Each round's survivor frame
    is pinned with ``persist()``: the stats union reads every round,
    and without the pin round i would recompute rounds 1..i-1 (the
    q156 recompute-blowup lesson).  persist() rather than an eager
    localCheckpoint since r11 — the cache fills inside the next
    round's (or the union's) job instead of costing a blocking
    materialization job per round (measured 5.46 -> 2.49 s min-of-3);
    blocks drain via ContextCleaner when the result is dropped.
    """
    e = edges
    stats: list[DataFrame] = []
    for i in range(1, rounds + 1):
        deg = e.groupBy("src").agg(F.count("*").alias("_d"))
        keep = deg.where(F.col("_d") >= k).select("src")
        e = (
            e.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .persist()
        )
        stats.append(
            e.agg(
                F.countDistinct(
                    F.when(F.col("src") % 2 == 0, F.col("src"))
                ).alias("n_parts"),
                F.countDistinct(
                    F.when(F.col("src") % 2 == 1, F.col("src"))
                ).alias("n_suppliers"),
                F.count("*").alias("n_edges"),
            ).select(F.lit(i).cast("int").alias("round"), "*")
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def _kcore_iter_sql(i: int, k: int) -> str:
    return f"""
    d{i} AS (SELECT src, COUNT(*) AS d FROM e{i - 1} GROUP BY src),
    k{i} AS (SELECT src FROM d{i} WHERE d >= {k}),
    e{i} AS (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN k{i} a ON e.src = a.src
      JOIN k{i} b ON e.dst = b.src
    )"""


def _kcore_stats_sql(i: int) -> str:
    return f"""
    SELECT {i} AS round,
           CAST(COUNT(DISTINCT src) FILTER (WHERE src % 2 = 0) AS BIGINT)
             AS n_parts,
           CAST(COUNT(DISTINCT src) FILTER (WHERE src % 2 = 1) AS BIGINT)
             AS n_suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM e{i}"""


@register(
    "q169_kcore_peel",
    sql=f"""
    WITH e0 AS (
      SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
      UNION
      SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem
    ),
    {",".join(_kcore_iter_sql(i, 3) for i in range(1, 5))}
    {" UNION ALL ".join(_kcore_stats_sql(i) for i in range(1, 5))}
    """,
    doc="Four peeling rounds toward the 3-core of the bipartite "
        "part<->supplier graph (kcore_peel_stats, same parity-tagged "
        "node ids and edge builder as q134's PageRank): per round, "
        "surviving part/supplier/edge counts — the dense-core "
        "extraction and convergence-telemetry primitive.  Fixed "
        "rounds keep the DuckDB twin an exact chained-CTE replay; "
        "each round is one degree aggregation plus two node-keyed "
        "joins on one reused hash distribution, and survivor frames "
        "are localCheckpoint'ed so the telemetry union never "
        "recomputes earlier rounds.",
    tags=("graph", "kcore", "lineitem"),
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import bipartite_edges

    return kcore_peel_stats(bipartite_edges(load(spark, sf_dir, "lineitem")))


# ---------------------------------------------------------------------------
# q170: small-cell suppression (k-anonymity release gate)
# ---------------------------------------------------------------------------

@register(
    "q170_small_cell_suppression",
    sql="""
    WITH cells AS (
      -- DuckDB dayofweek is 0=Sunday; Spark's is 1=Sunday — align here
      SELECT event_type,
             CAST(dayofweek(ts) + 1 AS INT) AS dow,
             user_id, event_id
      FROM events
    ),
    per_cell AS (
      SELECT event_type, dow,
             COUNT(DISTINCT user_id) AS nu,
             COUNT(*) AS ne
      FROM cells GROUP BY 1, 2
    ),
    folded AS (
      SELECT CASE WHEN p.nu >= 25 THEN p.event_type
                  ELSE '__suppressed__' END AS cell,
             CASE WHEN p.nu >= 25 THEN p.dow ELSE -1 END AS dow,
             c.user_id, c.event_id
      FROM cells c
      JOIN per_cell p
        ON p.event_type = c.event_type AND p.dow = c.dow
    )
    SELECT cell, CAST(dow AS INT) AS dow,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM folded GROUP BY 1, 2
    """,
    doc="Small-cell suppression, the k-anonymity release gate every "
        "published aggregate table needs: (event_type, weekday) cells "
        "whose distinct-user count falls below k=25 are folded into "
        "one __suppressed__ bucket whose user count is the EXACT "
        "distinct count of the union of its members (a user in two "
        "suppressed cells counts once).  Scale shape: the fold "
        "re-counts distincts WITHOUT touching raw rows twice — cells "
        "collapse to (cell, word) bitmap words in one pass; the fold "
        "relabels word rows and bit_or-MERGES them (the q146 "
        "semilattice), so the union distinct is a popcount, not a "
        "re-scan; the oracle states the same semantics over raw rows.",
    tags=("governance", "k-anonymity", "sketch", "events"),
)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketches import bitmap_word_bit

    k = 25
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").cast("int").alias("dow"),
        "user_id",
    )
    word, bit = bitmap_word_bit("user_id")
    words = (
        e.select("event_type", "dow", word.alias("_w"), bit.alias("_b"))
        .groupBy("event_type", "dow", "_w")
        .agg(F.bit_or("_b").alias("_bits"), F.count("*").alias("_ne"))
    )
    per_cell = words.groupBy("event_type", "dow").agg(
        F.coalesce(F.sum(F.bit_count("_bits")), F.lit(0)).alias("_nu")
    )
    folded = words.join(per_cell, ["event_type", "dow"]).select(
        F.when(F.col("_nu") >= k, F.col("event_type"))
        .otherwise(F.lit("__suppressed__"))
        .alias("cell"),
        F.when(F.col("_nu") >= k, F.col("dow")).otherwise(F.lit(-1)).alias("dow"),
        "_w",
        "_bits",
        "_ne",
    )
    return (
        folded.groupBy("cell", "dow", "_w")
        .agg(F.bit_or("_bits").alias("_mbits"), F.sum("_ne").alias("_ne"))
        .groupBy("cell", F.col("dow").cast("int").alias("dow"))
        .agg(
            F.coalesce(F.sum(F.bit_count("_mbits")), F.lit(0))
            .cast("long")
            .alias("n_users"),
            F.sum("_ne").cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# q171: generic MERGE INTO (Delta-style upsert/delete/insert in one pass)
# ---------------------------------------------------------------------------

@register(
    "q171_generic_merge_into",
    sql="""
    WITH t AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    src AS (
      SELECT o_orderkey, 'D' AS op, NULL AS status, NULL AS price
      FROM t WHERE o_orderkey % 10 = 7
      UNION ALL
      SELECT o_orderkey, 'U', 'X', CAST(price + 1 AS DECIMAL(18,2))
      FROM t WHERE o_orderkey % 3 = 0 AND o_orderkey % 10 <> 7
      UNION ALL
      SELECT -o_orderkey - 1, 'I', 'N', CAST(1.23 AS DECIMAL(18,2))
      FROM t WHERE o_orderkey % 5 = 1
    ),
    merged AS (
      SELECT t.o_orderkey,
             CASE WHEN s.op = 'U' THEN s.status
                  ELSE t.o_orderstatus END AS status,
             CASE WHEN s.op = 'U' THEN s.price ELSE t.price END AS price
      FROM t LEFT JOIN src s USING (o_orderkey)
      WHERE s.op IS NULL OR s.op <> 'D'
      UNION ALL
      SELECT o_orderkey, status, price FROM src WHERE op = 'I'
    )
    SELECT status AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(price) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM merged GROUP BY 1
    """,
    doc="Generic Delta-style MERGE INTO (merge.generic.merge_into — "
        "the engine-level generalization of the reference's three "
        "hard-coded MERGE procs): one statement applies a mixed change "
        "batch to a bucket-partitioned warehouse dimension — deletes "
        "(op D), conditional updates (op U: status + repriced total), "
        "and inserts (op I, brand-new keys) — with SQL MERGE clause "
        "order (delete before update), a source-uniqueness guard (the "
        "Delta multi-match refusal), and a partition-scoped rewrite: "
        "the small source broadcasts into ONLY the touched hash "
        "buckets; untouched partitions hardlink forward, O(batch) not "
        "O(table).  The oracle replays the same change set as a plain "
        "left-join reconstruction; the readback aggregate grades the "
        "merged state.",
    tags=("merge", "warehouse", "upsert", "orders"),
)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..merge import Warehouse
    from ..merge.generic import merge_into

    DEC2 = "decimal(18,2)"
    t = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(DEC2).alias("price"),
    )
    from ..merge import bucket_of

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="q171_merge_"))
    wh.overwrite(
        "dim_orders",
        t.withColumn("_bucket", bucket_of("o_orderkey")),
        partition_by=["_bucket"],
    )
    deletes = t.where(F.col("o_orderkey") % 10 == 7).select(
        "o_orderkey",
        F.lit("D").alias("_op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast(DEC2).alias("price"),
    )
    updates = t.where(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 10 != 7)
    ).select(
        "o_orderkey",
        F.lit("U").alias("_op"),
        F.lit("X").alias("o_orderstatus"),
        (F.col("price") + 1).cast(DEC2).alias("price"),
    )
    inserts = t.where(F.col("o_orderkey") % 5 == 1).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("I").alias("_op"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(1.23).cast(DEC2).alias("price"),
    )
    src = deletes.unionByName(updates).unionByName(inserts)
    merge_into(
        wh,
        "dim_orders",
        src,
        on="o_orderkey",
        update_set={
            "o_orderstatus": F.col("_src_o_orderstatus"),
            "price": F.col("_src_price"),
        },
        update_condition=F.col("_src__op") == "U",
        delete_condition=F.col("_src__op") == "D",
        insert=True,
        bucket_col="_bucket",
    )
    return (
        wh.read("dim_orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("price").cast(DEC2).cast("double").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# q173: incremental near-duplicate index (cross-batch MinHash-LSH)
# ---------------------------------------------------------------------------

@register(
    "q173_incremental_near_dups",
    sql="""
    WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
    t1 AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM b1
    ),
    t2 AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM b2
    ),
    sh1 AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in generate_series(1, greatest(len(t) - 2, 1))]) AS g
      FROM t1
    ),
    sh2 AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in generate_series(1, greatest(len(t) - 2, 1))]) AS g
      FROM t2
    ),
    p1 AS (SELECT doc_id, len(g) AS n, unnest(g) AS s FROM sh1),
    p2 AS (SELECT doc_id, len(g) AS n, unnest(g) AS s FROM sh2),
    inter AS (
      -- size-ratio prefilter (the q24/q25 rule): j >= 0.7 forces
      -- min(n) >= 0.7 * max(n)
      SELECT a.doc_id AS id_new, b.doc_id AS id_old, COUNT(*) AS ni
      FROM p2 a JOIN p1 b
        ON a.s = b.s
       AND least(a.n, b.n) >= 0.7 * greatest(a.n, b.n) - 1e-9
      GROUP BY 1, 2
    ),
    dups AS (
      SELECT DISTINCT id_new
      FROM inter
      JOIN (SELECT doc_id, len(g) AS n FROM sh2) sa ON sa.doc_id = id_new
      JOIN (SELECT doc_id, len(g) AS n FROM sh1) sb ON sb.doc_id = id_old
      WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.7
    )
    SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT id_new FROM dups)
    """,
    doc="Incremental cross-batch NEAR-dup filter (llmdata.dedup."
        "incremental_near_dups) — q81's O(batch) ingest contract at "
        "shingle-Jaccard grain: batch 1 (even ids) builds the "
        "persisted band_signature index; batch 2 (odd ids) probes it "
        "— batch band rows BROADCAST against the index on (band_id, "
        "band_hash), candidate pairs verify by exact shingle Jaccard "
        "(hash-family-independent, so the oracle is the plain exact "
        "cross-batch Jaccard), and batch-2 docs matching an indexed "
        "doc at >= 0.7 drop.  The full-corpus re-mine is O(history) "
        "per ingest; this is O(batch x bands) probes.",
    tags=("llmdata", "dedup", "incremental", "documents"),
)
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmdata import dedup

    docs = load(spark, sf_dir, "documents")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    # 16 bands x 2 rows: P(miss a true 0.7-Jaccard pair) ~ 2e-5, so
    # the probabilistic candidate stage is safe against the EXACT
    # oracle at the threshold boundary (8x4 would miss ~11% there);
    # false-positive candidates cost only exact-verify probes.
    _, idx_bands = dedup.incremental_near_dups(b1, None, None, bands=16)
    fresh, _ = dedup.incremental_near_dups(
        b2, idx_bands, b1.select("doc_id", "text"), bands=16
    )
    return fresh.select("doc_id")
