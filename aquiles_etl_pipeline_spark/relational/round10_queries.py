"""Round-10 catalog entries (q367-q371): mergeable-sketch parity and
operational resilience — the r09 verdict's named catalog gaps.

- q367 mergeable histogram-quantile vs exact: per-shard equi-width
  histograms merged by bin-count addition (the map-side-partial /
  merge-anywhere shape every 100 TB quantile pipeline uses), graded
  against the exact rank element with a within-bin error certificate.
- q368 HLL register union: a deterministic HyperLogLog (md5-keyed,
  m=64) built per shard and merged by elementwise register MAX — the
  mergeable-distinct-sketch algebra (union = max) that lets a 1000-node
  rollup count distincts without re-shuffling raw ids; graded against
  the exact COUNT(DISTINCT).
- q369 runtime-regression advisor: median/MAD jitter-aware regression
  detection over per-day series (the time sibling of q351's skew
  advisor, and the catalog form of this repo's own BENCH_DETAIL
  second-run discipline).
- q370 streaming restart storm with duplicate redelivery: three
  checkpointed drains, each a FRESH query object restarted from the
  same checkpoint, with one wave's files re-delivered under new names —
  exactly-once by PK MERGE, graded against the batch aggregate.
- q371 count-min sketch heavy-hitter parity: per-shard (rows x buckets)
  cell counts merged by ADDITION — the third mergeable-sketch algebra
  (q367 quantile ADD, q368 distinct MAX, here frequency ADD) — with
  the one-sided-error certificate asserted per top token.

Shared numeric discipline (see round9_queries): cross-row accumulation
on exact integers only; fractional outputs via one round-to-integer +
exact divide (numerics.pround); zero denominators CASE-guarded in both
engines; md5-prefix determinism for anything hash-keyed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import stream_batch_confs
from .catalog import emit, load, pround, register

# ---------------------------------------------------------------------------
# q367: mergeable histogram quantiles vs exact rank elements
# ---------------------------------------------------------------------------

_Q367_W = 2000  # bin width in cents ($20) — fixed, engine-shared literal


@register(
    "q367_histogram_quantile_merge",
    sql=f"""
    WITH f AS (
      SELECT event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    shards AS (
      SELECT event_id % 8 AS shard, cents // {_Q367_W} AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM f GROUP BY 1, 2
    ),
    hist AS (SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM shards GROUP BY 1),
    cum AS (
      SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
      FROM hist
    ),
    ranks AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             (50 * CAST(COUNT(*) AS BIGINT) + 99) // 100 AS r50,
             (90 * CAST(COUNT(*) AS BIGINT) + 99) // 100 AS r90,
             (99 * CAST(COUNT(*) AS BIGINT) + 99) // 100 AS r99
      FROM f
    ),
    est AS (
      SELECT MIN(CASE WHEN c.cum >= r.r50 THEN c.bin END) AS b50,
             MIN(CASE WHEN c.cum >= r.r90 THEN c.bin END) AS b90,
             MIN(CASE WHEN c.cum >= r.r99 THEN c.bin END) AS b99
      FROM cum c, ranks r
    ),
    ordered AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, event_id) AS BIGINT) AS rn
      FROM f
    ),
    ex AS (
      SELECT MIN(CASE WHEN o.rn = r.r50 THEN o.cents END) AS x50,
             MIN(CASE WHEN o.rn = r.r90 THEN o.cents END) AS x90,
             MIN(CASE WHEN o.rn = r.r99 THEN o.cents END) AS x99
      FROM ordered o, ranks r
    )
    SELECT q_pct, n, rank_target, bin_lo, bin_hi, exact_value, in_bin
    FROM (
      SELECT 50 AS q_pct, r.n, r.r50 AS rank_target,
             CAST(e.b50 * {_Q367_W} AS DOUBLE) / 100 AS bin_lo,
             CAST((e.b50 + 1) * {_Q367_W} AS DOUBLE) / 100 AS bin_hi,
             CAST(x.x50 AS DOUBLE) / 100 AS exact_value,
             (x.x50 >= e.b50 * {_Q367_W}
              AND x.x50 < (e.b50 + 1) * {_Q367_W}) AS in_bin
      FROM ranks r, est e, ex x
      UNION ALL
      SELECT 90, r.n, r.r90,
             CAST(e.b90 * {_Q367_W} AS DOUBLE) / 100,
             CAST((e.b90 + 1) * {_Q367_W} AS DOUBLE) / 100,
             CAST(x.x90 AS DOUBLE) / 100,
             (x.x90 >= e.b90 * {_Q367_W} AND x.x90 < (e.b90 + 1) * {_Q367_W})
      FROM ranks r, est e, ex x
      UNION ALL
      SELECT 99, r.n, r.r99,
             CAST(e.b99 * {_Q367_W} AS DOUBLE) / 100,
             CAST((e.b99 + 1) * {_Q367_W} AS DOUBLE) / 100,
             CAST(x.x99 AS DOUBLE) / 100,
             (x.x99 >= e.b99 * {_Q367_W} AND x.x99 < (e.b99 + 1) * {_Q367_W})
      FROM ranks r, est e, ex x
    )
    """,
    doc="Mergeable-quantile parity: per-shard equi-width histograms "
        "(shard = event_id % 8, bin = cents div 2000) merge by ADDING "
        "bin counts — the associative partial-aggregate algebra a "
        "1000-executor quantile job needs (each executor ships a tiny "
        "bin->count map; no raw-value shuffle, merge anywhere, "
        "re-merge idempotent).  The merged sketch answers p50/p90/p99 "
        "as the first bin whose cumulative count reaches ceil(q*n), "
        "and each answer carries its certificate: the EXACT rank "
        "element (global rank, integer cents) must land inside the "
        "reported bin (in_bin TRUE), bounding sketch error by one bin "
        "width at any scale.  The exact side's global sort exists "
        "only to grade the sketch — the sketch path is the 100 TB "
        "plan.  All rank arithmetic is integer (div/ceil via "
        "(q*n+99) div 100), both engines truncate identically.",
    tags=("events", "sketch", "quantile", "agg"),
)
def q367(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = _Q367_W
    f = load(spark, sf_dir, "events").select(
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    shards = (
        f.groupBy(
            (F.col("event_id") % 8).alias("shard"),
            F.expr(f"cents div {W}").alias("bin"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    hist = shards.groupBy("bin").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    cum = hist.select(
        "bin",
        F.sum("cnt").over(Window.orderBy("bin")).cast("bigint").alias("cum"),
    )
    n = F.count(F.lit(1)).cast("bigint")
    ranks = f.agg(
        n.alias("n"),
        F.expr("(50 * count(1) + 99) div 100").cast("bigint").alias("r50"),
        F.expr("(90 * count(1) + 99) div 100").cast("bigint").alias("r90"),
        F.expr("(99 * count(1) + 99) div 100").cast("bigint").alias("r99"),
    )
    est = cum.crossJoin(F.broadcast(ranks)).agg(
        F.min(F.when(F.col("cum") >= F.col("r50"), F.col("bin"))).alias("b50"),
        F.min(F.when(F.col("cum") >= F.col("r90"), F.col("bin"))).alias("b90"),
        F.min(F.when(F.col("cum") >= F.col("r99"), F.col("bin"))).alias("b99"),
    )
    ordered = f.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "event_id"))
        .cast("bigint")
        .alias("rn"),
    )
    ex = ordered.crossJoin(F.broadcast(ranks)).agg(
        F.min(F.when(F.col("rn") == F.col("r50"), F.col("cents"))).alias("x50"),
        F.min(F.when(F.col("rn") == F.col("r90"), F.col("cents"))).alias("x90"),
        F.min(F.when(F.col("rn") == F.col("r99"), F.col("cents"))).alias("x99"),
    )
    # ONE-row frame, pinned (the q372 rule): the three union branches
    # below each project from it, and unpinned each re-ran the whole
    # ranks/est/ex subtree — 15 events scans in the before-plan
    one = (
        ranks.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(ex))
        .localCheckpoint(eager=True)
    )
    parts = []
    for q, b, x, r in (
        (50, "b50", "x50", "r50"),
        (90, "b90", "x90", "r90"),
        (99, "b99", "x99", "r99"),
    ):
        parts.append(
            one.select(
                F.lit(q).alias("q_pct"),
                F.col("n"),
                F.col(r).alias("rank_target"),
                emit((F.col(b) * W).cast("double") / 100).alias("bin_lo"),
                emit(((F.col(b) + 1) * W).cast("double") / 100).alias("bin_hi"),
                emit(F.col(x).cast("double") / 100).alias("exact_value"),
                (
                    (F.col(x) >= F.col(b) * W) & (F.col(x) < (F.col(b) + 1) * W)
                ).alias("in_bin"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q368: HLL register union (mergeable distinct sketch) vs exact
# ---------------------------------------------------------------------------

_Q368_SQL = """
    WITH u AS (SELECT DISTINCT user_id, user_id % 4 AS shard FROM events),
    h AS (
      SELECT shard,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM u
    ),
    split AS (
      SELECT shard, hv // 67108864 AS idx, hv % 67108864 AS rest FROM h
    ),
    shard_regs AS (
      SELECT shard, idx,
             CAST(MAX(CASE WHEN rest = 0 THEN 27
                           ELSE 27 - length(bin(rest)) END) AS BIGINT) AS rho
      FROM split GROUP BY 1, 2
    ),
    merged AS (
      SELECT idx, CAST(MAX(rho) AS BIGINT) AS rho
      FROM shard_regs GROUP BY 1
    ),
    scaffold AS (SELECT unnest(generate_series(0, 63)) AS idx),
    regs AS (
      SELECT s.idx, COALESCE(m.rho, 0) AS rho
      FROM scaffold s LEFT JOIN merged m ON m.idx = s.idx
    ),
    sums AS (
      SELECT CAST(SUM(1::BIGINT << (27 - rho)) AS BIGINT) AS s_scaled,
             CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
      FROM regs
    ),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM u),
    est AS (
      SELECT ex.n_exact, sums.v_empty, sums.s_scaled,
             0.709 * 64 * 64 * 134217728.0 / CAST(sums.s_scaled AS DOUBLE)
               AS raw
      FROM ex, sums
    )
    SELECT n_exact, v_empty, s_scaled,
           CAST(CAST(round((CASE WHEN raw <= 160.0 AND v_empty > 0
                 THEN 64.0 * ln(64.0 / CAST(v_empty AS DOUBLE))
                 ELSE raw END) * 1e6) AS BIGINT) AS DOUBLE) / 1e6
             AS hll_estimate
    FROM est
    """


@register(
    "q368_hll_register_union",
    sql=_Q368_SQL,
    doc="Mergeable-distinct-sketch parity: a deterministic HyperLogLog "
        "(m=64 registers; md5-prefix hash -> top 6 bits pick the "
        "register, rho = leading-zero rank of the remaining 26 bits "
        "via 27 - bit_length, exact integer logic in both engines) "
        "built PER SHARD and merged by elementwise register MAX — the "
        "union algebra that makes distinct-counting free to roll up "
        "at 100 TB (registers are 64 small ints per group; union is "
        "associative, idempotent, re-shuffle-free).  The harmonic sum "
        "accumulates as EXACT integers (2^(27-rho) over a 64-row "
        "register scaffold, empty registers rho=0), so the only "
        "double math is the final one-row estimate expression "
        "(micro-rounded; small-range linear counting CASE-guarded "
        "identically in both engines).  Graded against the exact "
        "COUNT(DISTINCT user_id) it approximates.",
    tags=("events", "sketch", "distinct", "agg"),
)
def q368(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load(spark, sf_dir, "events")
        .select("user_id", (F.col("user_id") % 4).alias("shard"))
        .distinct()
    )
    hv = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    split = u.select("shard", hv.alias("hv")).select(
        "shard",
        F.expr("hv div 67108864").alias("idx"),
        (F.col("hv") % 67108864).alias("rest"),
    )
    shard_regs = split.groupBy("shard", "idx").agg(
        F.max(
            F.when(F.col("rest") == 0, F.lit(27)).otherwise(
                F.lit(27) - F.length(F.bin(F.col("rest")))
            )
        )
        .cast("bigint")
        .alias("rho")
    )
    merged = shard_regs.groupBy("idx").agg(F.max("rho").cast("bigint").alias("rho"))
    scaffold = spark.range(0, 64).select(F.col("id").alias("idx"))
    regs = scaffold.join(F.broadcast(merged), "idx", "left").select(
        "idx", F.coalesce("rho", F.lit(0)).alias("rho")
    )
    sums = regs.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(27 - rho AS INT))"))
        .cast("bigint")
        .alias("s_scaled"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("v_empty"),
    )
    ex = u.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    est = ex.crossJoin(F.broadcast(sums)).select(
        "n_exact",
        "v_empty",
        "s_scaled",
        (
            F.lit(0.709 * 64 * 64)
            * F.lit(134217728.0)
            / F.col("s_scaled").cast("double")
        ).alias("raw"),
    )
    estimate = F.when(
        (F.col("raw") <= 160.0) & (F.col("v_empty") > 0),
        F.lit(64.0) * F.log(F.lit(64.0) / F.col("v_empty").cast("double")),
    ).otherwise(F.col("raw"))
    return est.select(
        "n_exact",
        "v_empty",
        "s_scaled",
        pround(estimate, 6).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# q369: jitter-aware runtime-regression advisor (q351's time sibling)
# ---------------------------------------------------------------------------

@register(
    "q369_runtime_regression_advisor",
    sql="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS total_c
      FROM events GROUP BY 1, 2
    ),
    tagged AS (
      SELECT event_type, day, total_c,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS day_rank
      FROM daily
    ),
    win AS (
      SELECT event_type, day, total_c,
             CASE WHEN day_rank <= 14 THEN 'base' ELSE 'curr' END AS w
      FROM tagged
    ),
    ranked AS (
      SELECT event_type, w, total_c,
             CAST(row_number() OVER (PARTITION BY event_type, w
                                     ORDER BY total_c, day) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY event_type, w) AS BIGINT) AS cnt
      FROM win
    ),
    med AS (
      SELECT event_type,
             CAST(MIN(CASE WHEN w = 'base' THEN cnt END) AS BIGINT) AS n_base,
             CAST(MIN(CASE WHEN w = 'curr' THEN cnt END) AS BIGINT) AS n_curr,
             MIN(CASE WHEN w = 'base' AND rn = (cnt + 1) // 2
                      THEN total_c END) AS base_med,
             MIN(CASE WHEN w = 'curr' AND rn = (cnt + 1) // 2
                      THEN total_c END) AS curr_med
      FROM ranked GROUP BY 1
    ),
    devs AS (
      SELECT w.event_type, abs(w.total_c - m.base_med) AS dev, w.day
      FROM win w JOIN med m ON m.event_type = w.event_type
      WHERE w.w = 'base'
    ),
    dev_ranked AS (
      SELECT event_type, dev,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY dev, day) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
      FROM devs
    ),
    mad AS (
      SELECT event_type,
             MIN(CASE WHEN rn = (cnt + 1) // 2 THEN dev END) AS mad_c
      FROM dev_ranked GROUP BY 1
    )
    SELECT m.event_type,
           m.n_base AS n_base_days,
           COALESCE(m.n_curr, 0) AS n_curr_days,
           CAST(m.base_med AS DOUBLE) / 100 AS base_median,
           CAST(m.curr_med AS DOUBLE) / 100 AS curr_median,
           CAST(d.mad_c AS DOUBLE) / 100 AS mad,
           CASE WHEN m.curr_med IS NOT NULL AND m.base_med > 0 THEN
             CAST(CAST(round((CAST(m.curr_med AS DOUBLE)
                              / CAST(m.base_med AS DOUBLE)) * 1e6) AS BIGINT)
                  AS DOUBLE) / 1e6
           END AS ratio,
           COALESCE(m.curr_med > m.base_med
                    + GREATEST(3 * d.mad_c, m.base_med // 10), FALSE)
             AS flagged
    FROM med m JOIN mad d ON d.event_type = m.event_type
    """,
    doc="Jitter-aware runtime-regression advisor — q351's sibling for "
        "TIME, and the catalog form of this repo's own bench "
        "second-run discipline: per series (event_type), per-day "
        "totals split into a 14-day baseline and a current window; "
        "the decision statistic is MEDIAN vs MEDIAN with a MAD floor "
        "(flag only when current median exceeds baseline median by "
        "max(3*MAD, 10%)), so one stalled day — the shared-VM stall "
        "this repo's BENCH provenance notes document — cannot flag or "
        "mask a regression the way a mean-based check would.  All "
        "medians are lower-medians of integer cents picked by "
        "(value, day)-ranked row_number: exact, tie-deterministic, "
        "engine-identical.  Physical: day-grain aggregate first (one "
        "shuffle), then per-type windows over day-grain rows — "
        "bounded by calendar x types regardless of event volume.",
    tags=("events", "ops-advisor", "timeseries", "robust"),
)
def q369(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents).cast("bigint").alias("total_c"))
    )
    tagged = daily.select(
        "event_type",
        "day",
        "total_c",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("day_rank"),
    )
    win = tagged.select(
        "event_type",
        "day",
        "total_c",
        F.when(F.col("day_rank") <= 14, "base").otherwise("curr").alias("w"),
    )
    wrank = Window.partitionBy("event_type", "w").orderBy("total_c", "day")
    wcnt = Window.partitionBy("event_type", "w")
    ranked = win.select(
        "event_type",
        "w",
        "total_c",
        F.row_number().over(wrank).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wcnt).cast("bigint").alias("cnt"),
    )
    is_med = F.col("rn") == F.expr("(cnt + 1) div 2")
    med = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("w") == "base", F.col("cnt"))).cast("bigint").alias("n_base"),
        F.min(F.when(F.col("w") == "curr", F.col("cnt"))).cast("bigint").alias("n_curr"),
        F.min(F.when((F.col("w") == "base") & is_med, F.col("total_c"))).alias("base_med"),
        F.min(F.when((F.col("w") == "curr") & is_med, F.col("total_c"))).alias("curr_med"),
    )
    devs = (
        win.where(F.col("w") == "base")
        .join(med.select("event_type", "base_med"), "event_type")
        .select(
            "event_type",
            F.abs(F.col("total_c") - F.col("base_med")).alias("dev"),
            "day",
        )
    )
    drank = Window.partitionBy("event_type").orderBy("dev", "day")
    dcnt = Window.partitionBy("event_type")
    dev_ranked = devs.select(
        "event_type",
        "dev",
        F.row_number().over(drank).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(dcnt).cast("bigint").alias("cnt"),
    )
    mad = dev_ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == F.expr("(cnt + 1) div 2"), F.col("dev"))).alias(
            "mad_c"
        )
    )
    out = med.join(mad, "event_type")
    ratio = F.when(
        F.col("curr_med").isNotNull() & (F.col("base_med") > 0),
        pround(F.col("curr_med").cast("double") / F.col("base_med").cast("double"), 6),
    )
    return out.select(
        "event_type",
        F.col("n_base").alias("n_base_days"),
        F.coalesce("n_curr", F.lit(0)).cast("bigint").alias("n_curr_days"),
        emit(F.col("base_med").cast("double") / 100).alias("base_median"),
        emit(F.col("curr_med").cast("double") / 100).alias("curr_median"),
        emit(F.col("mad_c").cast("double") / 100).alias("mad"),
        ratio.alias("ratio"),
        F.coalesce(
            F.col("curr_med")
            > F.col("base_med")
            + F.greatest(3 * F.col("mad_c"), F.expr("base_med div 10")),
            F.lit(False),
        ).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# q370: streaming restart storm + duplicate redelivery (exactly-once MERGE)
# ---------------------------------------------------------------------------

@register(
    "q370_stream_restart_redelivery",
    sql="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                     AS BIGINT) AS DOUBLE) / 100 AS total_value
    FROM events GROUP BY 1
    """,
    doc="Streaming restart storm with duplicate redelivery — the "
        "exactly-once claim under the failure mode that actually "
        "breaks pipelines: events land in three waves; EVERY drain is "
        "a fresh query object restarted from the same checkpoint, and "
        "wave A's files are RE-DELIVERED under new names after their "
        "first drain (an at-least-once source doing what at-least-once "
        "sources do).  Each micro-batch MERGEs into a warehouse table "
        "keyed by event_id (insert-if-absent; redelivered rows become "
        "matched no-op updates), so the readback equals the batch "
        "aggregate over the source regardless of restarts or dup "
        "files.  Extends q313/q361 (restart parity) and q172 (CDC "
        "idempotency) per the r09 verdict's restart-storm ask.  "
        "Values travel as integer cents through JSONL (the q165 "
        "micros rule).  Scale: MERGE is PK-bucket-scoped; per-drain "
        "cost is O(batch), never O(history).",
    tags=("streaming", "merge", "warehouse", "events", "exactly-once"),
)
def q370(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from ..merge import Warehouse, bucket_of
        from ..merge.generic import merge_into
        from .stream_queries import _land_wave, _reland_wave

        root = Path(tempfile.mkdtemp(prefix="q370_storm_"))
        land = root / "land"
        land.mkdir()
        e = load(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
        )
        wh = Warehouse(spark, str(root / "wh"))

        def apply_batch(bdf: DataFrame, batch_id: int) -> None:
            if bdf.isEmpty():
                return
            src = bdf.withColumn("_bucket", bucket_of("event_id"))
            if not wh.exists("facts"):
                wh.overwrite("facts", src.limit(0), partition_by=["_bucket"])
            merge_into(
                wh,
                "facts",
                src.drop("_bucket"),
                on="event_id",
                # redelivered rows rewrite identical values: a no-op
                update_set={
                    "event_type": F.col("_src_event_type"),
                    "cents": F.col("_src_cents"),
                },
                insert=True,
                bucket_col="_bucket",
            )

        def drain() -> None:
            # a FRESH query object every time — each drain is a restart
            # recovering from the shared checkpoint
            stream = spark.readStream.schema(
                "event_id long, event_type string, cents long"
            ).json(str(land))
            with stream_batch_confs(spark, land):
                (
                    stream.writeStream.foreachBatch(apply_batch)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_wave(root, land, e.where(F.col("event_id") % 3 == 0), "a")
        drain()
        # restart 2: wave A redelivered under NEW file names + wave B.
        # Redelivery = copy the already-rendered shard files under fresh
        # names (exactly what an at-least-once source does: identical
        # bytes, new paths) — re-rendering the wave through another
        # Spark job would only burn a scan+write to produce the same
        # content.
        _reland_wave(root, land, "a", "a_redelivered")
        _land_wave(root, land, e.where(F.col("event_id") % 3 == 1), "b")
        drain()
        # restart 3: wave C + wave B redelivered
        _reland_wave(root, land, "b", "b_redelivered")
        _land_wave(root, land, e.where(F.col("event_id") % 3 == 2), "c")
        drain()

        if wh.exists("facts"):
            facts = wh.read("facts")
        else:  # degenerate corpus: zero events ever landed (q361 lesson)
            facts = spark.createDataFrame(
                [], "event_id long, event_type string, cents long"
            )
        return facts.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            emit(F.sum("cents").cast("bigint").cast("double") / 100).alias(
                "total_value"
            ),
        )

    from .stream_queries import _memoized

    return _memoized(spark, sf_dir, "q370", build)


# ---------------------------------------------------------------------------
# q371: count-min sketch heavy-hitter parity (mergeable frequency sketch)
# ---------------------------------------------------------------------------

@register(
    "q371_countmin_heavy_hitters",
    sql="""
    WITH toks AS (
      SELECT doc_id % 8 AS shard,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ),
    cells AS (  -- per-shard CMS: 2 salted rows x 256 buckets, counts ADD
      SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS cnt
      FROM (
        SELECT shard, 0 AS r,
               CAST(('0x' || substr(md5('r0:' || tok), 1, 8)) AS BIGINT)
                 % 256 AS bucket, c
        FROM tf
        UNION ALL
        SELECT shard, 1,
               CAST(('0x' || substr(md5('r1:' || tok), 1, 8)) AS BIGINT)
                 % 256, c
        FROM tf
      ) GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, CAST(SUM(c) AS BIGINT) AS exact_count
      FROM tf GROUP BY 1
    ),
    total AS (SELECT CAST(SUM(exact_count) AS BIGINT) AS n_tokens FROM exact),
    top AS (
      SELECT tok, exact_count,
             CAST(('0x' || substr(md5('r0:' || tok), 1, 8)) AS BIGINT)
               % 256 AS b0,
             CAST(('0x' || substr(md5('r1:' || tok), 1, 8)) AS BIGINT)
               % 256 AS b1
      FROM exact ORDER BY exact_count DESC, tok LIMIT 10
    )
    SELECT t.tok AS token, t.exact_count,
           CAST(LEAST(c0.cnt, c1.cnt) AS BIGINT) AS cms_estimate,
           CAST(LEAST(c0.cnt, c1.cnt) - t.exact_count AS BIGINT)
             AS overestimate,
           (LEAST(c0.cnt, c1.cnt) >= t.exact_count) AS never_undercounts,
           tot.n_tokens
    FROM top t
    JOIN cells c0 ON c0.r = 0 AND c0.bucket = t.b0
    JOIN cells c1 ON c1.r = 1 AND c1.bucket = t.b1
    CROSS JOIN total tot
    """,
    doc="Mergeable-frequency-sketch parity — the third leg of the "
        "sketch triad (q367 quantiles: bin-count ADD; q368 distinct: "
        "register MAX; here frequency: cell-count ADD): a "
        "deterministic count-min sketch (2 md5-salted rows x 256 "
        "buckets) built per shard and merged by cell addition, the "
        "algebra that lets 1000 executors ship 512 small ints each "
        "and answer any token's frequency at merge time.  Point "
        "estimates (min over rows) for the top-10 exact tokens carry "
        "the CMS one-sided-error certificate: never_undercounts must "
        "be TRUE on every row (estimate >= exact by construction; "
        "the overestimate column shows collision inflation).  All "
        "counts are exact integers; md5-prefix bucket hashing is the "
        "engine-portable determinism rule.  Exact side exists to "
        "grade the sketch.",
    tags=("documents", "sketch", "frequency", "agg"),
)
def q371(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmdata.dedup import tokens

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(
            (F.col("doc_id") % 8).alias("shard"),
            F.explode(tokens("text")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("shard", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )

    def bucket(salt: str) -> F.Column:
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("tok"))), 1, 8), 16, 10)
            .cast("bigint")
            % 256
        )

    cells = (
        tf.select("shard", F.lit(0).alias("r"), bucket("r0").alias("bucket"), "c")
        .unionByName(
            tf.select("shard", F.lit(1).alias("r"), bucket("r1").alias("bucket"), "c")
        )
        .groupBy("r", "bucket")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
    )
    exact = tf.groupBy("tok").agg(F.sum("c").cast("bigint").alias("exact_count"))
    total = exact.agg(F.sum("exact_count").cast("bigint").alias("n_tokens"))
    top = (
        exact.orderBy(F.desc("exact_count"), F.asc("tok"))
        .limit(10)
        .select("tok", "exact_count", bucket("r0").alias("b0"), bucket("r1").alias("b1"))
    )
    c0 = cells.where(F.col("r") == 0).select(
        F.col("bucket").alias("b0"), F.col("cnt").alias("cnt0")
    )
    c1 = cells.where(F.col("r") == 1).select(
        F.col("bucket").alias("b1"), F.col("cnt").alias("cnt1")
    )
    est = F.least(F.col("cnt0"), F.col("cnt1"))
    return (
        top.join(F.broadcast(c0), "b0")
        .join(F.broadcast(c1), "b1")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("tok").alias("token"),
            "exact_count",
            est.cast("bigint").alias("cms_estimate"),
            (est - F.col("exact_count")).cast("bigint").alias("overestimate"),
            (est >= F.col("exact_count")).alias("never_undercounts"),
            "n_tokens",
        )
    )
