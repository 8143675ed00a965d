"""Catalog entries for the event-time window operators (streaming/
windows.py) run in batch mode over the ``events`` table — the same
functions drive Structured Streaming in tests/test_streaming.py; here
they face the DuckDB oracle, which is the batch/streaming-parity
correctness story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import stream_batch_confs
from ..streaming import windows
from .catalog import load, register, pround


@register(
    "q30_events_tumbling_5min",
    sql="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 5-minute event-time windows per event_type "
        "(streaming.windows.tumbling_stats, batch mode). Scale: partial "
        "agg on uniform (window, type) keys; streaming state bounded by "
        "watermark.",
    tags=("streaming", "window", "events"),
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.tumbling_stats(load(spark, sf_dir, "events"), "5 minutes")


@register(
    "q31_events_sliding_10x5",
    sql="""
    WITH exploded AS (
      SELECT event_type, value,
             UNNEST([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
               AS window_start
      FROM events
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
    FROM exploded
    GROUP BY 1, 2
    """,
    doc="Sliding windows (10-minute span, 5-minute slide): each event "
        "counts in 2 windows (streaming.windows.sliding_stats).",
    tags=("streaming", "window", "events"),
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.sliding_stats(load(spark, sf_dir, "events"), "10 minutes", "5 minutes")


@register(
    "q32_events_sessions_30min",
    sql="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    tagged AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS last_ts,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
    FROM tagged
    GROUP BY user_id, sid
    """,
    doc="Per-user session windows, 30-minute inactivity gap "
        "(streaming.windows.session_stats vs a gaps-and-islands oracle; "
        "a new session starts when the gap is >= 30 min, matching "
        "Spark's [ts, ts+gap) window-merge semantics).",
    tags=("streaming", "window", "events"),
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.session_stats(load(spark, sf_dir, "events"), "30 minutes")


# ---------------------------------------------------------------------------
# Two-wave streaming parity harnesses (q121/q126/q127)
#
# Shared scaffold: the events table lands as JSONL in two waves (even
# ids, then odd ids) and a checkpointed Trigger.AvailableNow query
# drains after each wave — so every entry proves its semantics ACROSS
# a restart (state store / watermark / sink idempotence restored from
# the checkpoint).  The built readback frame is memoized per
# (session, sf_dir): one test session touches each entry ~4 times
# (oracle, schema gate, plans fixture, hygiene), and re-running 8
# streaming drains to re-read an immutable sink is pure waste.
# ---------------------------------------------------------------------------

_STREAM_RESULT_CACHE: dict = {}


def _memoized(spark: SparkSession, sf_dir: str, tag: str, build) -> DataFrame:
    from ..session import session_key

    key = (session_key(spark), sf_dir, tag)
    if key not in _STREAM_RESULT_CACHE:
        _STREAM_RESULT_CACHE[key] = build()
    return _STREAM_RESULT_CACHE[key]


def _land_wave(root, land, df: DataFrame, tag: str) -> None:
    """Render one wave of rows as JSONL shards into a scratch dir under
    ``root``, then copy the shards into the streaming source dir
    ``land`` with a tag prefix — the file source picks up whole landed
    files, so the copy is the atomic publish step.  Single source for
    every multi-wave streaming-parity query (q144/q154/q165 and
    ``_land_two_waves``)."""
    import shutil

    from ..sources.jsonl import write_jsonl

    wave_dir = root / f"wave_{land.name}_{tag}"
    write_jsonl(df, str(wave_dir), compression=None, shards=4)
    for f in wave_dir.glob("part-*.json"):
        shutil.copy(f, land / f"{tag}_{f.name}")


def _land_sentinel(land, tag: str, rows: list[dict]) -> None:
    """Land a literal sentinel wave (1-2 rows whose exact values only
    need to clear a watermark threshold) as ONE JSONL file written
    directly by the driver — a Spark write job per sentinel (repartition
    + 4-shard render + copy) is pure scheduler overhead for a single
    literal row, and one file (vs 4 shards, 3 empty) keeps a per-file-
    batched drain at exactly one micro-batch per sentinel.  The rename
    into ``land`` is the same atomic-publish step _land_wave uses."""
    import json as _json

    tmp = land.parent / f"_sent_{land.name}_{tag}.json"
    with open(tmp, "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    tmp.rename(land / f"{tag}_sentinel.json")


def _ts_json(dt) -> str:
    """Render a datetime the way Spark's JSON writer does under the UTC
    session (yyyy-MM-dd'T'HH:mm:ss.SSSZ), so a driver-written sentinel
    parses identically to a Spark-rendered wave.

    PySpark ``collect()`` hands back NAIVE datetimes in the *driver
    OS-local* timezone, so a naive input is first localized and
    converted to UTC — the rendering is then UTC-correct on any driver,
    not only one whose OS tz happens to be UTC (r10 ADVICE item)."""
    from datetime import timezone

    # astimezone() on a naive datetime localizes it as OS-local first
    dt = dt.astimezone(timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


def _reland_wave(root, land, src_tag: str, new_tag: str) -> None:
    """Redeliver an already-rendered wave under NEW file names — the
    at-least-once source behavior (q370): byte-identical file content,
    fresh names, zero re-render jobs.  Reads the scratch shards
    _land_wave kept under ``root`` for ``src_tag``."""
    import shutil

    wave_dir = root / f"wave_{land.name}_{src_tag}"
    for f in wave_dir.glob("part-*.json"):
        shutil.copy(f, land / f"{new_tag}_{f.name}")


def _land_two_waves(frame: DataFrame, root, land, drain, split_col: str = "event_id") -> None:
    """Write even-id rows, drain, write odd-id rows, drain."""
    from pyspark.sql import functions as F

    _land_wave(root, land, frame.where(F.col(split_col) % 2 == 0), "a")
    drain()
    _land_wave(root, land, frame.where(F.col(split_col) % 2 == 1), "b")
    drain()


@register(
    "q121_stateful_running_totals",
    sql="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
    doc="Custom stateful streaming operator under the correctness gate "
        "(streaming.stateful.user_running_totals, applyInPandasWithState): "
        "the events table lands as JSONL in two waves, two checkpointed "
        "Trigger.AvailableNow drains thread per-user (count, sum) state "
        "through the state store across RESTARTS, and the final emitted "
        "update per user must equal a full batch recompute (the oracle). "
        " Completes the streaming surface's driver proof: windows "
        "(q30-q32), continuous aggregates (q102), and now arbitrary "
        "stateful logic.  State is O(distinct users), partitioned by "
        "key.  Money discipline: values stream as exact integer CENTS "
        "(per-value DECIMAL(18,2) half-up, x100), so the float state "
        "accumulates integers exactly and the emitted total is the "
        "oracle's decimal sum, never an order-dependent float sum.",
    tags=("streaming", "stateful", "events"),
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from ..streaming.stateful import user_running_totals
        from .catalog import DEC

        root = Path(tempfile.mkdtemp(prefix="q121_state_"))
        land = root / "land"
        land.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            (F.col("value").cast(DEC) * 100).cast("double").alias("value"),
        )

        def drain() -> None:
            stream = spark.readStream.schema(
                "event_id long, user_id long, value double"
            ).json(str(land))

            def sink(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.withColumn("_b", F.lit(batch_id)).write.mode("append").parquet(out)

            # python_state: per-user applyInPandasWithState work is
            # per-group Python calls — floor partitions at cores (see
            # session.stream_batch_confs); key-partitioned state, so
            # the count never changes results
            with stream_batch_confs(spark, land, python_state=True):
                (
                    user_running_totals(stream)
                    .writeStream.outputMode("update")
                    .foreachBatch(sink)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_two_waves(e, root, land, drain)
        w = Window.partitionBy("user_id").orderBy(F.desc("_b"))
        return (
            spark.read.parquet(out)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "user_id",
                "n_events",
                (F.col("sum_value") / 100).alias("total_value"),
            )
        )

    return _memoized(spark, sf_dir, "q121", build)


@register(
    "q126_stream_static_enrichment",
    sql="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS segment_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
    doc="Stream-static enrichment under the gate: events land as JSONL "
        "in two waves, a Structured Streaming query joins each micro-"
        "batch against the STATIC customer dimension (broadcast — the "
        "stateless enrich-on-ingest pattern every event pipeline runs "
        "first), appends the enriched rows to a sink across two "
        "checkpointed AvailableNow drains, and the sink's per-segment "
        "rollup must equal the batch join (the oracle).  Unlike "
        "stream-stream joins there is NO state store: the dim side is "
        "re-planned per micro-batch, so dim updates between drains are "
        "picked up for free.  Exactly-once lands via checkpoint + "
        "file-sink idempotence.",
    tags=("streaming", "join", "events"),
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F

        from .catalog import DEC, emit, money

        root = Path(tempfile.mkdtemp(prefix="q126_enrich_"))
        land = root / "land"
        land.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
        dim = load(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )

        def drain() -> None:
            stream = spark.readStream.schema(
                "event_id long, user_id long, value double"
            ).json(str(land))
            enriched = stream.join(F.broadcast(dim), "user_id")
            with stream_batch_confs(spark, land):
                (
                    enriched.writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_two_waves(e, root, land, drain)
        return (
            spark.read.parquet(out)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_events"),
                emit(F.sum(money("value")).cast(DEC)).alias("segment_value"),
            )
        )

    return _memoized(spark, sf_dir, "q126", build)


@register(
    "q127_watermark_late_drop",
    sql="""
    WITH a AS (SELECT ts, value FROM events WHERE event_id % 2 = 0),
    wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM a),
    kept_b AS (
      SELECT e.ts, e.value
      FROM events e, wm
      WHERE e.event_id % 2 = 1
        AND time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL 1 HOUR > wm.w
    ),
    allrows AS (SELECT * FROM a UNION ALL SELECT * FROM kept_b)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS sum_value
    FROM allrows
    GROUP BY 1
    """,
    doc="Watermark late-data DROP semantics under the gate: wave A "
        "(even events) drains first and persists watermark = max(A.ts) "
        "- 2h in the checkpoint; wave B (odd events) then drains "
        "against that RESTORED watermark, and Spark must drop exactly "
        "the B rows whose 1-hour window END <= watermark (the "
        "empirically-pinned boundary rule: a window still open at the "
        "watermark accepts rows even when the row's own ts is older) "
        "while keeping every on-time row.  The oracle restates the "
        "rule arithmetically.  This is the state-bounding contract "
        "that makes 100 TB streams possible — state for closed windows "
        "is gone, so late arrivals for them must be discarded, "
        "deterministically.  Decimal-exact sums inside the streaming "
        "aggregation itself.",
    tags=("streaming", "watermark", "events"),
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from .catalog import DEC, emit

        root = Path(tempfile.mkdtemp(prefix="q127_wm_"))
        land = root / "land"
        land.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events").select("event_id", "ts", "value")

        def drain(final: bool = False) -> None:
            # pin ONE micro-batch per drain: the oracle models wave B as
            # draining entirely against wave A's restored watermark; if
            # AvailableNow ever split a wave into multiple batches (file
            # count above the source's per-batch default at larger SF),
            # the watermark would advance mid-wave using B's own rows
            # and drop rows the oracle keeps
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", 1_000_000)
                .json(str(land))
            )
            agg = (
                stream.withWatermark("ts", "2 hours")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(
                    F.count("*").alias("n_events"),
                    F.sum(F.col("value").cast(DEC)).alias("sum_value"),
                )
            )

            def sink(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.select(
                    F.col("w.start").alias("window_start"),
                    "n_events",
                    "sum_value",
                    F.lit(batch_id).alias("_b"),
                ).write.mode("append").parquet(out)

            # Wave A KEEPS the trailing no-data batch: the advanced
            # watermark only reaches the offsets log when the NEXT
            # batch is constructed, so that empty batch is what makes
            # wave B drain against wave A's restored watermark — the
            # query's whole semantic (r11 measured: disabling it
            # everywhere fails the oracle, late rows stop dropping).
            # The FINAL drain skips it: update-mode eviction emits
            # nothing (r11 profile: rows=0, state 3->3) and no later
            # restart needs the persisted watermark.
            with stream_batch_confs(spark, land, no_data_batches=not final):
                (
                    agg.writeStream.outputMode("update")
                    .foreachBatch(sink)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_wave(root, land, e.where(F.col("event_id") % 2 == 0), "a")
        drain()
        _land_wave(root, land, e.where(F.col("event_id") % 2 == 1), "b")
        drain(final=True)
        w = Window.partitionBy("window_start").orderBy(F.desc("_b"))
        return (
            spark.read.parquet(out)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "window_start",
                "n_events",
                emit(F.col("sum_value").cast(DEC)).alias("sum_value"),
            )
        )

    return _memoized(spark, sf_dir, "q127", build)

@register(
    "q144_stream_interval_join",
    sql="""
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 0
    ),
    r AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_id % 2 = 1
    )
    SELECT l.user_id AS user_id,
           l.event_id AS l_event_id,
           r.event_id AS r_event_id,
           r.value AS r_value
    FROM l JOIN r
      ON r.user_id = l.user_id
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL 1 HOUR
    """,
    doc="Stream-STREAM interval join under the correctness gate "
        "(streaming.joins.stream_interval_join): even-id events feed "
        "the left stream, odd-id events the right, both land as JSONL "
        "in two waves split on (event_id div 2) parity — so ~half the "
        "joinable pairs STRADDLE the waves and can only be emitted if "
        "the second checkpointed AvailableNow drain restores the "
        "left/right join state written by the first.  Inner interval "
        "join per user_id (right.ts in (l.ts, l.ts + 1h]); the "
        "watermark delay (100 days) exceeds the 30-day data span so "
        "state eviction never drops a pair and the emitted pair set "
        "must equal the batch range join (the oracle), at PAIR grain — "
        "row counts, both event_ids, and the right-side value all "
        "hash-gated.  The state-bounding story at scale: a real "
        "deployment sets the delay to its lateness SLA and per-key "
        "state is bounded by (watermark + interval), never the stream; "
        "keys co-partition both sides, so skew salts the equi-key "
        "without touching the range predicate.",
    tags=("streaming", "join", "interval", "events"),
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F

        from ..streaming.joins import stream_interval_join

        root = Path(tempfile.mkdtemp(prefix="q144_ssjoin_"))
        land_l = root / "land_l"
        land_r = root / "land_r"
        land_l.mkdir()
        land_r.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events")
        left = e.where(F.col("event_id") % 2 == 0).select("event_id", "user_id", "ts")
        right = e.where(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "ts", "value"
        )

        def drain() -> None:
            # maxFilesPerTrigger pins one micro-batch per drain (the
            # q127 rule: a wave must join against the RESTORED state,
            # not state advanced mid-wave)
            ls = (
                spark.readStream.schema("event_id long, user_id long, ts timestamp")
                .option("maxFilesPerTrigger", 1_000_000)
                .json(str(land_l))
            )
            rs = (
                spark.readStream.schema(
                    "event_id long, user_id long, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", 1_000_000)
                .json(str(land_r))
            )
            joined = stream_interval_join(
                ls,
                rs,
                on="user_id",
                window_seconds=3600,
                watermark="100 days",
            ).select(
                "user_id",
                F.col("event_id").alias("l_event_id"),
                F.col("right_event_id").alias("r_event_id"),
                F.col("right_value").alias("r_value"),
            )
            # no_data_batches=False: inner interval join with a 100-day
            # delay over a 30-day span — the watermark never passes any
            # buffered row, so the trailing empty batch evicts and emits
            # nothing (r11 profile: state rows unchanged, zero output)
            with stream_batch_confs(spark, land_l, land_r, no_data_batches=False):
                (
                    joined.writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        half = (F.col("event_id") - F.col("event_id") % 2) / 2
        for tag, parity in (("a", 0), ("b", 1)):
            _land_wave(root, land_l, left.where(half % 2 == parity), tag)
            _land_wave(root, land_r, right.where(half % 2 == parity), tag)
            drain()
        return spark.read.parquet(out).select(
            "user_id", "l_event_id", "r_event_id", "r_value"
        )

    return _memoized(spark, sf_dir, "q144", build)


@register(
    "q154_stream_dedup_watermark",
    sql="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    doc="Streaming exactly-once dedup under the gate (dropDuplicates"
        "WithinWatermark): events land as JSONL in two checkpointed "
        "AvailableNow drains, and every event_id % 6 == 0 row lands "
        "TWICE — once in wave A and again (byte-identical) in wave B — "
        "so the second copy can only be dropped from dedup state "
        "RESTORED across the restart; wave-B-internal dups (id % 6 == "
        "3, landed twice within wave B) prove the in-batch path too.  "
        "The sink rollup must equal the dup-free batch table (the "
        "oracle) — without the dedup the % 6 rows would double-count.  "
        "This is the at-least-once -> exactly-once repair every "
        "replayed ingest (Kafka redelivery, file re-land) needs; "
        "watermarked state is the 100 TB story: dedup keys older than "
        "the delay are EVICTED, so state is bounded by the dup-arrival "
        "horizon, not the stream's history (delay here spans the "
        "fixture so nothing is late).  One batch per drain pinned via "
        "maxFilesPerTrigger (q127's discipline).",
    tags=("streaming", "dedup", "events"),
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F

        from .catalog import DEC, emit

        root = Path(tempfile.mkdtemp(prefix="q154_dedup_"))
        land = root / "land"
        land.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )

        def drain() -> None:
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, event_type string, value double"
                )
                .option("maxFilesPerTrigger", 1_000_000)
                .json(str(land))
            )
            deduped = stream.withWatermark("ts", "3650 days").dropDuplicatesWithinWatermark(
                ["event_id"]
            )
            # no_data_batches=False: dedup emits in the data batch; the
            # 3650-day delay spans the fixture so the trailing empty
            # batch evicts nothing (r11 profile: state rows unchanged)
            with stream_batch_confs(spark, land, no_data_batches=False):
                (
                    deduped.writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        mod = F.col("event_id") % 6
        # wave A: even ids, once
        _land_wave(root, land, e.where(F.col("event_id") % 2 == 0), "a1")
        drain()
        # wave B: odd ids, PLUS a second copy of the % 6 == 0 rows
        # (cross-restart dups) and of the % 6 == 3 rows (in-batch dups)
        _land_wave(root, land, e.where(F.col("event_id") % 2 == 1), "b1")
        _land_wave(root, land, e.where(mod == 0), "b2")
        _land_wave(root, land, e.where(mod == 3), "b3")
        drain()
        return (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                emit(F.sum(F.col("value").cast(DEC)).cast(DEC)).alias("sum_value"),
            )
        )

    return _memoized(spark, sf_dir, "q154", build)


@register(
    "q165_stream_session_windows",
    sql="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    tagged AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS last_ts,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS sum_value
    FROM tagged
    GROUP BY user_id, sid
    """,
    doc="STREAMING session windows in APPEND mode under the gate "
        "(streaming.windows.session_stats, the same function q32 "
        "grades in batch mode): events land time-split — wave A is "
        "the first half of the timeline, wave B the second — so "
        "sessions STRADDLING the cut can only merge through "
        "session-window state RESTORED from wave A's checkpoint; a "
        "third drain lands one far-future sentinel event whose "
        "watermark closes every real session, and append mode then "
        "emits each finalized session EXACTLY ONCE (the no-data "
        "micro-batch flush).  The emitted set must equal the batch "
        "gaps-and-islands recompute (q32's oracle).  This is the "
        "mechanism that bounds 100 TB session state: closed sessions "
        "leave the store the moment the watermark passes them, and "
        "downstream consumers see immutable final rows, not updates.  "
        "Decimal-exact sums inside the streaming aggregation; one "
        "batch per drain pinned via maxFilesPerTrigger.",
    tags=("streaming", "session", "watermark", "events"),
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F

        from ..streaming.windows import session_stats

        root = Path(tempfile.mkdtemp(prefix="q165_sess_"))
        land = root / "land"
        land.mkdir()
        out = str(root / "out")
        # land event time as integer MICROS: the JSONL writer renders
        # timestamps at millisecond precision, which would corrupt the
        # emitted session_start/last_ts against the oracle
        e = load(spark, sf_dir, "events").select(
            "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "value"
        )
        lo, hi = e.agg(F.min("ts_us"), F.max("ts_us")).first()
        cut = lo + (hi - lo) // 2

        def drain(final: bool = False) -> None:
            stream = (
                spark.readStream.schema(
                    "event_id long, ts_us long, user_id long, value double"
                )
                .option("maxFilesPerTrigger", 1_000_000)
                .json(str(land))
                .select(
                    F.timestamp_micros("ts_us").alias("ts"), "user_id", "value"
                )
            )
            sessions = session_stats(stream, gap="30 minutes", watermark="1 hour")
            # Wave drains skip the trailing empty eviction batch (append
            # emission is a pure function of the watermark sequence —
            # sessions the wave's watermark closed are emitted by the
            # NEXT restart's batch against the restored watermark; no
            # wave-B event can merge into an evictable session, since
            # closure requires end + gap < maxA - delay while wave-B
            # rows sit >= the cut > maxA).  The FINAL drain keeps the
            # no-data batch: its sentinel batch only advances the
            # watermark, and the flush that drains the store happens in
            # the batch after it.
            with stream_batch_confs(spark, land, no_data_batches=final):
                (
                    sessions.writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", out)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_wave(root, land, e.where(F.col("ts_us") < cut), "a")
        drain()
        _land_wave(root, land, e.where(F.col("ts_us") >= cut), "b")
        drain()
        # sentinel: past every real session end + gap + watermark delay;
        # a single literal row, driver-written (no Spark render job)
        _land_sentinel(
            land, "c",
            [{"event_id": -1, "ts_us": hi + 10 * 3_600_000_000,
              "user_id": -1, "value": 0.0}],
        )
        drain(final=True)
        return spark.read.parquet(out).where(F.col("user_id") >= 0)

    return _memoized(spark, sf_dir, "q165", build)


# ---------------------------------------------------------------------------
# q172: streaming CDC apply (merge_into inside foreachBatch)
# ---------------------------------------------------------------------------

@register(
    "q172_streaming_cdc_merge",
    sql="""
    WITH t AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    a AS (
      SELECT o_orderkey, 'U' AS op, 'X' AS status, NULL AS price
      FROM t WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT -o_orderkey - 1, 'I', 'N', CAST(1.23 AS DECIMAL(18,2))
      FROM t WHERE o_orderkey % 5 = 1
    ),
    m1 AS (
      SELECT t.o_orderkey,
             CASE WHEN a.op = 'U' AND a.status IS NOT NULL
                  THEN a.status ELSE t.o_orderstatus END AS o_orderstatus,
             CASE WHEN a.op = 'U' AND a.price IS NOT NULL
                  THEN a.price ELSE t.price END AS price
      FROM t LEFT JOIN a USING (o_orderkey)
      UNION ALL
      SELECT o_orderkey, status, price FROM a WHERE op = 'I'
    ),
    b AS (
      SELECT o_orderkey, 'D' AS op, NULL AS status, NULL AS price
      FROM t WHERE o_orderkey % 10 = 7
      UNION ALL
      SELECT o_orderkey, 'U', NULL, CAST(price + 2 AS DECIMAL(18,2))
      FROM t WHERE o_orderkey % 7 = 0 AND o_orderkey % 10 <> 7
    ),
    m2 AS (
      SELECT m1.o_orderkey,
             CASE WHEN b.op = 'U' AND b.status IS NOT NULL
                  THEN b.status ELSE m1.o_orderstatus END AS o_orderstatus,
             CASE WHEN b.op = 'U' AND b.price IS NOT NULL
                  THEN b.price ELSE m1.price END AS price
      FROM m1 LEFT JOIN b USING (o_orderkey)
      WHERE b.op IS NULL OR b.op <> 'D'
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(price) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM m2 GROUP BY 1
    """,
    doc="Streaming CDC apply — the lakehouse change-data-capture "
        "pattern: a file-source stream of (key, op, partial-values) "
        "change rows drives merge.generic.merge_into inside "
        "foreachBatch, so each micro-batch lands as ONE partition-"
        "scoped MERGE (delete/conditional-update/insert) on the "
        "warehouse dimension.  Two checkpointed drains apply two CDC "
        "waves sequentially (wave B deletes keys wave A updated — "
        "order matters and the restored checkpoint preserves it); "
        "partial updates ride NULL columns coalesced against the "
        "target, prices travel as integer CENTS (the q165 micros "
        "rule: JSONL must not round-trip decimals through float "
        "text).  Re-delivered batches are idempotent by construction: "
        "updates rewrite the same values, inserts turn into matched "
        "no-ops.  The oracle replays both waves as chained left-join "
        "reconstructions.",
    tags=("streaming", "cdc", "merge", "warehouse", "orders"),
)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F

        from ..merge import Warehouse, bucket_of
        from ..merge.generic import merge_into
        from .catalog import DEC, emit

        root = Path(tempfile.mkdtemp(prefix="q172_cdc_"))
        land = root / "land"
        land.mkdir()
        t = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast(DEC).alias("price"),
        )
        wh = Warehouse(spark, str(root / "wh"))
        wh.overwrite(
            "dim",
            t.withColumn("_bucket", bucket_of("o_orderkey")),
            partition_by=["_bucket"],
        )
        cents = (F.col("price") * 100).cast("long")
        wave_a = t.where(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            F.lit("U").alias("_op"),
            F.lit("X").alias("status"),
            F.lit(None).cast("long").alias("price_cents"),
        ).unionByName(
            t.where(F.col("o_orderkey") % 5 == 1).select(
                (-F.col("o_orderkey") - 1).alias("o_orderkey"),
                F.lit("I").alias("_op"),
                F.lit("N").alias("status"),
                F.lit(123).cast("long").alias("price_cents"),
            )
        )
        wave_b = t.where(F.col("o_orderkey") % 10 == 7).select(
            "o_orderkey",
            F.lit("D").alias("_op"),
            F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("long").alias("price_cents"),
        ).unionByName(
            t.where(
                (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 10 != 7)
            ).select(
                "o_orderkey",
                F.lit("U").alias("_op"),
                F.lit(None).cast("string").alias("status"),
                (cents + 200).alias("price_cents"),
            )
        )

        def apply_batch(bdf: DataFrame, batch_id: int) -> None:
            if bdf.isEmpty():
                return
            src = bdf.select(
                "o_orderkey",
                "_op",
                F.col("status").alias("o_orderstatus"),
                (F.col("price_cents").cast(DEC) / 100).cast(DEC).alias("price"),
            )
            merge_into(
                wh,
                "dim",
                src,
                on="o_orderkey",
                # partial updates: NULL source columns keep target values
                update_set={
                    "o_orderstatus": F.coalesce(
                        F.col("_src_o_orderstatus"), F.col("o_orderstatus")
                    ),
                    "price": F.coalesce(F.col("_src_price"), F.col("price")),
                },
                update_condition=F.col("_src__op") == "U",
                delete_condition=F.col("_src__op") == "D",
                insert=True,
                bucket_col="_bucket",
            )

        def drain() -> None:
            stream = (
                spark.readStream.schema(
                    "o_orderkey long, _op string, status string, price_cents long"
                )
                .option("maxFilesPerTrigger", 1_000_000)
                .json(str(land))
            )
            with stream_batch_confs(spark, land):
                (
                    stream.writeStream.foreachBatch(apply_batch)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_wave(root, land, wave_a, "a")
        drain()
        _land_wave(root, land, wave_b, "b")
        drain()
        return (
            wh.read("dim")
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                emit(F.sum("price").cast(DEC)).alias("total_price"),
            )
        )

    return _memoized(spark, sf_dir, "q172", build)


@register(
    "q194_streaming_heavy_users",
    sql="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS est_count
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) >= 10
    """,
    doc="Streaming space-saving heavy hitters under the correctness "
        "gate (streaming.stateful.shard_heavy_users, the SECOND "
        "applyInPandasWithState operator — array-typed state, "
        "non-algebraic eviction transitions): events land as JSONL in "
        "two waves, two checkpointed AvailableNow drains thread "
        "per-shard capacity-bounded counter tables through the state "
        "store across a restart, and users with >= 10 events must "
        "match the exact batch recompute — counts are exact while "
        "per-shard distinct users stay under capacity (the q130 "
        "sketch-shaped-exact regime; the eviction path is unit-tested "
        "separately).  Each user hashes to exactly one shard, so no "
        "cross-shard merge; state per shard is O(capacity) forever.",
    tags=("streaming", "stateful", "sketch", "events"),
)
def q194(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from ..streaming.stateful import shard_heavy_users

        root = Path(tempfile.mkdtemp(prefix="q194_topk_"))
        land = root / "land"
        land.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events").select("event_id", "user_id")

        def drain() -> None:
            stream = spark.readStream.schema(
                "event_id long, user_id long"
            ).json(str(land))

            def sink(batch_df: DataFrame, batch_id: int) -> None:
                batch_df.withColumn("_b", F.lit(batch_id)).write.mode(
                    "append"
                ).parquet(out)

            with stream_batch_confs(spark, land, python_state=True):
                (
                    shard_heavy_users(stream)
                    .writeStream.outputMode("update")
                    .foreachBatch(sink)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_two_waves(e, root, land, drain)
        w = Window.partitionBy("shard", "user_id").orderBy(F.desc("_b"))
        return (
            spark.read.parquet(out)
            .withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (F.col("est_count") >= 10))
            .select("user_id", "est_count")
        )

    return _memoized(spark, sf_dir, "q194", build)


@register(
    "q195_stream_outer_join",
    sql="""
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 0
    ),
    r AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_id % 2 = 1
    )
    SELECT l.user_id AS user_id,
           l.event_id AS l_event_id,
           r.event_id AS r_event_id,
           r.value AS r_value
    FROM l LEFT JOIN r
      ON r.user_id = l.user_id
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL 1 HOUR
    """,
    doc="Stream-STREAM LEFT OUTER interval join under the correctness "
        "gate — the semantics corner q144's inner join cannot reach: "
        "an unmatched left row only emits (with nulls) when the "
        "GLOBAL watermark (min across both sources) passes its "
        "eviction point, so the harness lands the two real waves "
        "(cross-wave pairs prove state restore), then TWO sentinel "
        "waves with far-future timestamps on BOTH streams + drains — "
        "the first advances the watermark past every real left row's "
        "expiry, the second runs the flush batch that emits the "
        "null-matched rows; sentinels filter out of the readback.  "
        "The emitted set must equal the batch LEFT range join at pair "
        "grain.  At scale the watermark delay is the lateness SLA and "
        "outer-emission latency is exactly one watermark advance — "
        "this query pins that machinery end-to-end.",
    tags=("streaming", "join", "outer", "events"),
)
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F

        from ..streaming.joins import stream_interval_join

        root = Path(tempfile.mkdtemp(prefix="q195_ssouter_"))
        land_l = root / "land_l"
        land_r = root / "land_r"
        land_l.mkdir()
        land_r.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events")
        left = e.where(F.col("event_id") % 2 == 0).select("event_id", "user_id", "ts")
        right = e.where(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "ts", "value"
        )
        max_ts = e.agg(F.max("ts")).collect()[0][0]

        def drain(files_per_trigger: int = 1_000_000) -> None:
            ls = (
                spark.readStream.schema("event_id long, user_id long, ts timestamp")
                .option("maxFilesPerTrigger", files_per_trigger)
                .json(str(land_l))
            )
            rs = (
                spark.readStream.schema(
                    "event_id long, user_id long, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", files_per_trigger)
                .json(str(land_r))
            )
            joined = stream_interval_join(
                ls,
                rs,
                on="user_id",
                window_seconds=3600,
                watermark="100 days",
                how="left_outer",
            ).select(
                "user_id",
                F.col("event_id").alias("l_event_id"),
                F.col("right_event_id").alias("r_event_id"),
                F.col("right_value").alias("r_value"),
            )
            # no_data_batches=False everywhere: nothing expires under
            # the 100-day delay during the real waves, and the final
            # drain's TWO sentinels already run the flush as a data
            # batch (s1 advances the watermark, s2's batch evicts and
            # emits the null-matched leftovers) — the trailing empty
            # batch was measured a no-op (r11 profile: state 4->4,
            # zero output)
            with stream_batch_confs(spark, land_l, land_r, no_data_batches=False):
                (
                    joined.writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        half = (F.col("event_id") - F.col("event_id") % 2) / 2
        for tag, parity in (("a", 0), ("b", 1)):
            _land_wave(root, land_l, left.where(half % 2 == parity), tag)
            _land_wave(root, land_r, right.where(half % 2 == parity), tag)
            drain()
        # sentinel waves: far-future rows on BOTH streams advance the
        # min-across-sources watermark past every real left row's
        # (ts + interval + delay) expiry point; the second batch runs
        # the flush that emits the null-matched leftovers.  Both waves
        # drain in ONE query restart: each sentinel is a single
        # driver-written file per source and maxFilesPerTrigger=1 keeps
        # the s1 and s2 waves separate micro-batches (one file from
        # EACH source per batch), so the watermark advanced by batch 1
        # is live for batch 2 — per-batch semantics identical to the
        # former one-drain-per-wave shape, minus one full streaming-
        # query startup.  Literal driver-written rows (not a
        # <stream>.limit(1) scaffold) also guarantee a sentinel can
        # never be silently empty on an empty parity side.
        from datetime import timedelta

        if max_ts is None:  # empty events table: nothing to flush
            raise ValueError(
                "q195: events table is empty — no max(ts) to anchor the "
                "watermark-flush sentinels (the streaming-parity fixture "
                "requires at least one event)"
            )
        for tag, days in (("s1", 101), ("s2", 102)):
            sent_ts = _ts_json(max_ts + timedelta(days=days))
            _land_sentinel(
                land_l, tag,
                [{"event_id": -1, "user_id": -1, "ts": sent_ts}],
            )
            _land_sentinel(
                land_r, tag,
                [{"event_id": -2, "user_id": -1, "ts": sent_ts, "value": 0.0}],
            )
        drain(files_per_trigger=1)
        return (
            spark.read.parquet(out)
            .where(F.col("l_event_id") >= 0)
            .select("user_id", "l_event_id", "r_event_id", "r_value")
        )

    return _memoized(spark, sf_dir, "q195", build)


# ---------------------------------------------------------------------------
# q241: custom stateful sessionizer closed by EVENT-TIME TIMEOUTS
# ---------------------------------------------------------------------------

@register(
    "q241_stream_timeout_sessions",
    sql="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND((CAST(SUM(cents) AS DOUBLE) / 100) * 1e2) AS BIGINT) / 1e2 AS sum_value
    FROM tagged
    GROUP BY user_id, sid
    """,
    doc="CUSTOM stateful streaming sessionizer under the gate "
        "(streaming.stateful.session_summaries, applyInPandasWithState "
        "+ GroupStateTimeout.EventTimeTimeout — the third custom "
        "stateful operator, and the only one exercising event-time "
        "TIMEOUTS): sessions close either when a later event proves "
        "the inactivity gap (data-closed, emitted mid-stream) or when "
        "the WATERMARK passes last_event + gap "
        "(state.setTimeoutTimestamp fires, the state leaves the store "
        "— the 100 TB state-bounding mechanism).  Events land "
        "time-split in two waves so sessions straddling the cut must "
        "merge through state restored from the checkpoint; two "
        "far-future sentinel waves then advance the watermark and run "
        "the flush batch that fires every remaining timeout (the q195 "
        "two-sentinel rule).  The emitted closed-session set must "
        "equal the batch gaps-and-islands recompute — q32's oracle "
        "with (ts, event_id) deterministic order and integer-cent "
        "sums.",
    tags=("streaming", "stateful", "session", "timeout", "events"),
)
def q241(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F

        from ..streaming.stateful import session_summaries

        root = Path(tempfile.mkdtemp(prefix="q241_tsess_"))
        land = root / "land"
        land.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events").select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        lo, hi = e.agg(F.min("ts_us"), F.max("ts_us")).first()
        cut = lo + (hi - lo) // 2
        sent = "event_id long, ts_us long, user_id long, cents long"

        def drain(files_per_trigger: int = 1_000_000) -> None:
            stream = (
                spark.readStream.schema(sent)
                .option("maxFilesPerTrigger", files_per_trigger)
                .json(str(land))
                .select(
                    "event_id",
                    "ts_us",
                    F.timestamp_micros("ts_us").alias("ts"),
                    "user_id",
                    "cents",
                )
                .withWatermark("ts", "1 hour")
            )
            sessions = session_summaries(stream, gap_minutes=30)
            # python_state: ~50k per-user groups -> one pandas call each
            # per drain; n=1 serializes them on one worker (48.7 s vs
            # 19.0 s at cores — see session.stream_batch_confs).
            # no_data_batches=False everywhere: a timeout the wave's
            # watermark armed fires identically in the NEXT batch
            # against the restored watermark (groups with new wave-B
            # data data-close the same session first — any session old
            # enough to time out under maxA - 1h sits > gap before
            # every wave-B row, which is >= the cut > maxA); the final
            # drain's TWO sentinels already run the flush as a data
            # batch, so its trailing empty batch does nothing.
            with stream_batch_confs(
                spark, land, python_state=True, no_data_batches=False
            ):
                (
                    sessions.writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", out)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_wave(root, land, e.where(F.col("ts_us") < cut), "a")
        drain()
        _land_wave(root, land, e.where(F.col("ts_us") >= cut), "b")
        drain()
        # Both sentinel waves drain in ONE query restart: each sentinel
        # is a single driver-written file and maxFilesPerTrigger=1 keeps
        # them separate micro-batches, so the watermark advanced by the
        # first sentinel batch is live when the second batch evaluates
        # timeouts — per-batch semantics identical to the former
        # one-drain-per-sentinel shape, minus one full streaming-query
        # startup.  (Batch order between the two far-future sentinels is
        # irrelevant: either one advances the watermark past every real
        # session's expiry; emitted closed-session set is the same.)
        _land_sentinel(
            land, "c",
            [{"event_id": -1, "ts_us": hi + 10 * 3_600_000_000,
              "user_id": -1, "cents": 0}],
        )
        _land_sentinel(
            land, "d",
            [{"event_id": -2, "ts_us": hi + 20 * 3_600_000_000,
              "user_id": -2, "cents": 0}],
        )
        drain(files_per_trigger=1)
        return (
            spark.read.parquet(out)
            .where(F.col("user_id") >= 0)
            .select(
                "user_id",
                F.timestamp_micros("start_us").alias("session_start"),
                F.timestamp_micros("end_us").alias("session_end"),
                "n_events",
                pround(F.col("sum_cents").cast("double") / 100, 2).alias(
                    "sum_value"
                ),
            )
        )

    return _memoized(spark, sf_dir, "q241", build)


# ---------------------------------------------------------------------------
# q313: chained window-on-window streaming aggregation
# ---------------------------------------------------------------------------

@register(
    "q313_stream_chained_windows",
    sql="""
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS w30_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="CHAINED streaming window aggregation (two stateful operators "
        "in ONE query, Spark 3.4+ SPARK-40925): 5-minute tumbling "
        "counts/sums roll up into 30-minute windows inside the same "
        "streaming plan — the pre-aggregation cascade a high-volume "
        "metrics pipeline uses so the wide window's state holds 6 "
        "partial rows instead of every event.  Events land time-split "
        "in two checkpointed AvailableNow drains (30-minute windows "
        "straddling the cut can only complete through state RESTORED "
        "at BOTH window levels), then a far-future sentinel advances "
        "the watermark so append mode emits every finalized window "
        "exactly once (q165's flush discipline).  The emitted set must "
        "equal the batch 30-minute rollup — counts compose as sums and "
        "DECIMAL sums re-aggregate exactly, so the chain is "
        "semantically invisible.  Sums stay decimal-exact inside both "
        "streaming operators; event time lands as integer micros.",
    tags=("streaming", "window", "watermark", "events"),
)
def q313(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        import tempfile
        from pathlib import Path

        from pyspark.sql import functions as F

        from .catalog import DEC, emit

        root = Path(tempfile.mkdtemp(prefix="q313_chain_"))
        land = root / "land"
        land.mkdir()
        out = str(root / "out")
        e = load(spark, sf_dir, "events").select(
            "event_id", F.unix_micros("ts").alias("ts_us"), "event_type", "value"
        )
        lo, hi = e.agg(F.min("ts_us"), F.max("ts_us")).first()
        cut = lo + (hi - lo) // 2

        def drain(final: bool = False) -> None:
            stream = (
                spark.readStream.schema(
                    "event_id long, ts_us long, event_type string, value double"
                )
                .option("maxFilesPerTrigger", 1_000_000)
                .json(str(land))
                .select(
                    F.timestamp_micros("ts_us").alias("ts"),
                    "event_type",
                    "value",
                )
            )
            w5 = (
                stream.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "5 minutes"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n5"),
                    F.sum(F.col("value").cast(DEC)).cast(DEC).alias("v5"),
                )
            )
            w30 = (
                w5.groupBy(F.window(F.col("window"), "30 minutes"), "event_type")
                .agg(
                    F.sum("n5").alias("n_events"),
                    F.sum("v5").cast(DEC).alias("sum_value_dec"),
                )
                .select(
                    F.col("window.start").alias("w30_start"),
                    "event_type",
                    "n_events",
                    "sum_value_dec",
                )
            )
            # Wave drains skip the trailing empty eviction batch — the
            # q165 rule: append emission is a pure function of the
            # watermark sequence (windows the wave's watermark closed
            # are emitted by the NEXT restart's batch against the
            # restored watermark; late rows are dropped by the
            # watermark filter regardless of state presence).  The
            # FINAL drain keeps it: the sentinel batch only advances
            # the watermark, the flush runs in the batch after it.
            with stream_batch_confs(spark, land, no_data_batches=final):
                (
                    w30.writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", out)
                    .option("checkpointLocation", str(root / "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        _land_wave(root, land, e.where(F.col("ts_us") < cut), "a")
        drain()
        _land_wave(root, land, e.where(F.col("ts_us") >= cut), "b")
        drain()
        # far-future sentinel, driver-written (no Spark render job)
        _land_sentinel(
            land, "c",
            [{"event_id": -1, "ts_us": hi + 10 * 3_600_000_000,
              "event_type": "zz_sentinel", "value": 0.0}],
        )
        drain(final=True)
        return (
            spark.read.parquet(out)
            .where(F.col("event_type") != "zz_sentinel")
            .select(
                "w30_start",
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
                emit(F.col("sum_value_dec")).alias("sum_value"),
            )
        )

    return _memoized(spark, sf_dir, "q313", build)
