"""Structured Streaming tests: file-source ingest with exactly-once
semantics, batch/streaming parity of the event-time window operators,
watermark late-data handling, and the custom stateful operator."""

from __future__ import annotations

import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

from aquiles_etl_pipeline_spark.merge import Warehouse, bootstrap
from aquiles_etl_pipeline_spark.relational.catalog import load
from aquiles_etl_pipeline_spark.streaming import (
    session_stats,
    stream_ingest_directory,
    stream_ingest_files,
    tumbling_stats,
    user_running_totals,
)

SF = "/root/testdata/sf0.001"

CSV_A = (
    "Producto,Fecha,Provedor,Precio,IVA\n"
    "Arroz Premium 500g x 12 (G13),15/03/2024,ProveedorUno,2.500,13\n"
    "Frijol Negro 1kg,16/03/2024,ProveedorUno,3.000,5\n"
)
CSV_B = (
    "Producto,Fecha,Provedor,Precio,IVA\n"
    "Azucar Blanca 2kg x 6,17/03/2024,ProveedorDos,4.250,13\n"
)
CSV_C = (
    "Producto,Fecha,Provedor,Precio,IVA\n"
    "Cafe Molido 250g,18/03/2024,ProveedorTres,8.900,13\n"
)


def _memory_query(df, name, output_mode):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


@pytest.mark.slow
def test_stream_ingest_files_exactly_once(spark, tmp_path):
    inp, ckpt = tmp_path / "in", tmp_path / "ckpt"
    inp.mkdir()
    wh = Warehouse(spark, tmp_path / "wh")
    bootstrap(wh)

    (inp / "a.csv").write_text(CSV_A)
    (inp / "b.csv").write_text(CSV_B)
    stats = stream_ingest_files(spark, wh, str(inp), str(ckpt))
    assert stats.files_processed == 2 and stats.rows_processed == 3
    assert {r["Name"] for r in wh.read("provider").collect()} >= {
        "Proveedor Uno", "Proveedor Dos",
    }
    n_products = wh.read("product").count()
    assert n_products == 3

    # re-run over the same dir: checkpoint yields zero new files
    stats2 = stream_ingest_files(spark, wh, str(inp), str(ckpt))
    assert stats2.files_processed == 0 and wh.read("product").count() == n_products

    # a new file is picked up alone; ledger has one success row per file
    (inp / "c.csv").write_text(CSV_C)
    stats3 = stream_ingest_files(spark, wh, str(inp), str(ckpt))
    assert stats3.files_processed == 1
    led = wh.read("process_file")
    assert led.where(F.col("StatusId") == 3).count() == 3


def test_validate_and_land_reenters_stream_source(spark, tmp_path):
    """§3.4 validate-AND-LAND parity (reference etl:451-453): the
    validated CSV lands in the directory a streaming source watches;
    processing happens when the stream triggers — and an invalid CSV
    never lands."""
    from aquiles_etl_pipeline_spark.sources import process_csv_text

    inp, ckpt = tmp_path / "landing", tmp_path / "ckpt"
    wh = Warehouse(spark, tmp_path / "wh")
    bootstrap(wh)

    res = process_csv_text(spark, wh, "c", "landed.csv", CSV_A, land_dir=str(inp))
    assert res.success and "landed" in res.message
    assert (inp / "landed.csv").read_text() == CSV_A
    # nothing processed yet — landing defers to the stream
    assert wh.read("product").isEmpty()

    bad = process_csv_text(spark, wh, "c", "bad.csv", "Producto,Precio\nX,1\n",
                           land_dir=str(inp))
    assert not bad.success and not (inp / "bad.csv").exists()

    stats = stream_ingest_files(spark, wh, str(inp), str(ckpt))
    assert stats.files_processed == 1 and stats.rows_processed == 2
    assert wh.read("product").count() == 2
    assert ledger_status(wh) == {("landed.csv", 3)}


def ledger_status(wh):
    return {(r["FileName"], r["StatusId"]) for r in wh.read("process_file").collect()}


@pytest.mark.slow
def test_stream_ingest_directory_single_merge(spark, tmp_path):
    inp, ckpt = tmp_path / "in", tmp_path / "ckpt"
    inp.mkdir()
    wh = Warehouse(spark, tmp_path / "wh")
    bootstrap(wh)
    (inp / "a.csv").write_text(CSV_A)
    (inp / "b.csv").write_text(CSV_B)

    stats = stream_ingest_directory(spark, wh, str(inp), str(ckpt))
    # one micro-batch, N files -> ONE batch guid / merge
    assert len(stats.results) == 1 and stats.results[0].success
    assert stats.rows_processed == 3
    assert wh.read("product").count() == 3
    assert wh.read("process_file").where(F.col("StatusId") == 3).count() == 2


def test_stream_ingest_directory_all_rows_dropped_is_zero_row_success(
    spark, tmp_path, monkeypatch
):
    """A micro-batch whose rows all drop in the transform succeeds with
    0 rows: the directory stream shares the CSV path's pipeline but not
    its "CSV file is empty" failure.  With the standard header no row
    ever drops (IsValidPrice is never NULL), so the transform here is
    made to drop every row."""
    from aquiles_etl_pipeline_spark.sources import orchestrator

    transform = orchestrator.apply_transformations
    monkeypatch.setattr(
        orchestrator,
        "apply_transformations",
        lambda df, mode="exact": transform(df, mode=mode).where(F.lit(False)),
    )
    inp, ckpt = tmp_path / "in", tmp_path / "ckpt"
    inp.mkdir()
    wh = Warehouse(spark, tmp_path / "wh")
    bootstrap(wh)
    (inp / "a.csv").write_text(CSV_A)

    stats = stream_ingest_directory(spark, wh, str(inp), str(ckpt))
    assert len(stats.results) == 1
    res = stats.results[0]
    assert res.success and res.rows_processed == 0, res.message
    assert wh.read("product").isEmpty()
    assert ledger_status(wh) == {("a.csv", 3)}


def test_stream_ingest_directory_ledger_writes_once_per_transition(spark, tmp_path):
    """A micro-batch of three files moves the ledger with one write per
    transition (in progress, then success), not one per file."""
    inp, ckpt = tmp_path / "in", tmp_path / "ckpt"
    inp.mkdir()
    wh = Warehouse(spark, tmp_path / "wh")
    bootstrap(wh)
    for name, text in (("a.csv", CSV_A), ("b.csv", CSV_B), ("c.csv", CSV_C)):
        (inp / name).write_text(text)

    def generation():
        return int(wh._current("process_file").name[1:])

    before = generation()
    stats = stream_ingest_directory(spark, wh, str(inp), str(ckpt))
    assert len(stats.results) == 1 and stats.results[0].success
    assert generation() == before + 2
    assert ledger_status(wh) == {("a.csv", 3), ("b.csv", 3), ("c.csv", 3)}
    ids = {r["FileName"]: r["Id"] for r in wh.read("process_file").collect()}
    assert ids == {"a.csv": 1, "b.csv": 2, "c.csv": 3}


def test_tumbling_streaming_matches_batch(spark, tmp_path):
    events = load(spark, SF, "events")
    src_dir = tmp_path / "events_src"
    events.write.parquet(str(src_dir))

    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    q = _memory_query(tumbling_stats(stream, "15 minutes"), "tumbling_complete", "complete")
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.table("tumbling_complete").collect()
        }
    finally:
        q.stop()
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_stats(events, "15 minutes").collect()
    }
    assert got == want and len(want) > 100


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (clicks joined to errors
    within 1h after, per user) must equal the batch join over the same
    rows — the §2.5 beyond-reference parity story."""
    from aquiles_etl_pipeline_spark.streaming import stream_interval_join

    events = load(spark, SF, "events").select("event_id", "user_id", "event_type", "ts")
    src_dir = tmp_path / "ss_src"
    events.write.parquet(str(src_dir))

    def split(df):
        errors = df.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
        clicks = df.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        return errors, clicks

    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    s_err, s_clk = split(stream)
    # 24h interval: the sf0.001 slice is sparse (5 pairs within 1h);
    # 24h yields ~100 pairs so the parity check is non-vacuous
    joined = stream_interval_join(s_err, s_clk, on="user_id", window_seconds=86400)
    q = _memory_query(joined, "ss_join", "append")
    try:
        q.processAllAvailable()
        got = {
            (r["event_id"], r["right_event_id"])
            for r in spark.table("ss_join").collect()
        }
    finally:
        q.stop()

    b_err, b_clk = split(events)
    want = {
        (r["event_id"], r["right_event_id"])
        for r in stream_interval_join(
            b_err, b_clk, on="user_id", window_seconds=86400
        ).collect()
    }
    assert got == want and len(want) >= 100


def test_session_stats_batch_shape(spark):
    out = session_stats(load(spark, SF, "events"), "30 minutes")
    rows = out.collect()
    assert all(r["last_ts"] >= r["session_start"] for r in rows)
    # sessions per user partition the user's events exactly
    assert sum(r["n_events"] for r in rows) == 1000


def test_watermark_drops_late_events(spark, tmp_path):
    src_dir = tmp_path / "late_src"
    src_dir.mkdir()
    schema = "ts timestamp, event_type string, value double"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src_dir / name))

    # phase 1: one event in the 00:00 window, one far ahead at 01:00
    # (drives the watermark to 00:50 under a 10-minute delay)
    write_file("f1", [
        (_ts("2024-01-01 00:01:00"), "click", 1.0),
        (_ts("2024-01-01 01:00:00"), "click", 1.0),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src_dir / "*"))
    )
    agg = tumbling_stats(stream, "5 minutes", watermark="10 minutes")
    q = _memory_query(agg, "late_events", "update")
    try:
        q.processAllAvailable()
        # phase 2: a late event for the long-closed 00:00 window plus an
        # on-time one; the late row must be discarded by the watermark
        write_file("f2", [
            (_ts("2024-01-01 00:02:00"), "click", 1.0),   # LATE -> dropped
            (_ts("2024-01-01 01:04:00"), "click", 1.0),   # on time
        ])
        q.processAllAvailable()
        rows = spark.table("late_events").collect()
    finally:
        q.stop()
    counts_0000 = [
        r["n_events"] for r in rows
        if r["window_start"].minute == 0 and r["window_start"].hour == 0
    ]
    # the 00:00-00:05 window only ever saw the phase-1 event
    assert counts_0000 and max(counts_0000) == 1
    # the on-time phase-2 event WAS processed (01:00 window reached 2)
    counts_0100 = [
        r["n_events"] for r in rows
        if r["window_start"].hour == 1 and r["window_start"].minute == 0
    ]
    assert max(counts_0100) == 2


def test_user_running_totals_accumulates_across_batches(spark, tmp_path):
    src_dir = tmp_path / "state_src"
    src_dir.mkdir()
    schema = "ts timestamp, user_id long, value double"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src_dir / name))

    write_file("f1", [
        (_ts("2024-01-01 00:00:00"), 1, 10.0),
        (_ts("2024-01-01 00:01:00"), 1, 5.0),
        (_ts("2024-01-01 00:02:00"), 2, 7.0),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src_dir / "*"))
    )
    q = _memory_query(user_running_totals(stream), "running_totals", "update")
    try:
        q.processAllAvailable()
        write_file("f2", [
            (_ts("2024-01-01 00:03:00"), 1, 1.0),
            (_ts("2024-01-01 00:04:00"), 3, 2.0),
        ])
        q.processAllAvailable()
        time.sleep(0.5)
        rows = spark.table("running_totals").collect()
    finally:
        q.stop()
    latest = {}
    for r in rows:  # memory table appends updates in batch order
        latest[r["user_id"]] = (r["n_events"], r["sum_value"])
    assert latest[1] == (3, 16.0)  # state carried across micro-batches
    assert latest[2] == (1, 7.0)
    assert latest[3] == (1, 2.0)


def test_stream_queries_registered():
    from aquiles_etl_pipeline_spark.relational import registry

    names = set(registry())
    assert {"q30_events_tumbling_5min", "q31_events_sliding_10x5",
            "q32_events_sessions_30min"} <= names


def test_dedup_events_streaming_drops_replayed_rows(spark, tmp_path):
    """The same event_id delivered twice (file replayed with new name)
    must survive exactly once downstream."""
    from aquiles_etl_pipeline_spark.streaming import dedup_events

    events = load(spark, SF, "events").limit(50).cache()
    src_dir = tmp_path / "dup_src"
    events.write.parquet(str(src_dir))
    # replay the same rows as a second set of files
    events.write.mode("append").parquet(str(src_dir))

    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    q = _memory_query(
        dedup_events(stream, keys=["event_id"], watermark="1 hour"),
        "dedup_out",
        "append",
    )
    try:
        q.processAllAvailable()
        got = spark.table("dedup_out").groupBy("event_id").count().collect()
    finally:
        q.stop()
    assert len(got) == 50
    assert all(r["count"] == 1 for r in got)
    # batch mode: same contract via dropDuplicates
    doubled = events.unionByName(events)
    assert dedup_events(doubled, keys=["event_id"]).count() == 50


def test_funnel_ordering_semantics(spark):
    """Funnel stage k must anchor to the EARLIEST valid completion of
    stage k-1 (greedy-earliest is optimal for >= cascades): a purchase
    before the first view does not count, one after does."""
    from datetime import datetime

    from aquiles_etl_pipeline_spark.relational.timeseries import funnel

    t = lambda s: datetime(2024, 1, 1, 10, 0, s)  # noqa: E731
    rows = [
        # user 1 completes in order: view@0 click@10 purchase@20
        (1, t(0), "view"), (1, t(10), "click"), (1, t(20), "purchase"),
        # user 2: purchase BEFORE view/click -> depth 2
        (2, t(0), "purchase"), (2, t(5), "view"), (2, t(10), "click"),
        # user 3: click only -> depth 0 (no view)
        (3, t(0), "click"),
        # user 4: simultaneous view+click at same ts counts (>= semantics)
        (4, t(0), "view"), (4, t(0), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    out = {r["user_id"]: r for r in
           funnel(df, ["view", "click", "purchase"]).collect()}
    assert out[1]["depth"] == 3 and out[1]["t_step3"] == t(20)
    assert out[2]["depth"] == 2 and out[2]["t_step3"] is None
    assert out[3]["depth"] == 0
    assert out[4]["depth"] == 2 and out[4]["t_step2"] == t(0)


def test_streaming_continuous_aggregate(spark, tmp_path):
    """Streaming corpus-stats rollup: two drains over a growing JSONL
    landing dir must equal a full batch recompute, and the checkpoint
    must prevent double counting on re-drain."""
    import json

    from aquiles_etl_pipeline_spark.merge import Warehouse
    from aquiles_etl_pipeline_spark.merge.incremental import corpus_stats_delta
    from aquiles_etl_pipeline_spark.streaming.aggregates import stream_corpus_stats

    land = tmp_path / "land"; land.mkdir()
    wh = Warehouse(spark, tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        (land / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    write_file("a.jsonl", [
        {"doc_id": 1, "text": "one two three", "lang": "en", "source": "s1"},
        {"doc_id": 2, "text": "cuatro cinco", "lang": "es", "source": "s1"},
    ])
    s1 = stream_corpus_stats(spark, str(land), wh, ckpt)
    assert s1.n_docs == 2

    # second drain with no new files: checkpoint prevents re-count
    s2 = stream_corpus_stats(spark, str(land), wh, ckpt)
    assert s2.n_docs == 0

    write_file("b.jsonl", [
        {"doc_id": 3, "text": "six seven eight nine", "lang": "en", "source": "s2"},
        {"doc_id": 4, "text": "ten", "lang": "en", "source": "s1"},
    ])
    s3 = stream_corpus_stats(spark, str(land), wh, ckpt)
    assert s3.n_docs == 2

    got = {
        (r["lang"], r["source"]): (r["n_docs"], r["sum_tokens"], r["min_tokens"], r["max_tokens"])
        for r in wh.read("corpus_stats").collect()
    }
    all_docs = spark.createDataFrame(
        [(1, "one two three", "en", "s1"), (2, "cuatro cinco", "es", "s1"),
         (3, "six seven eight nine", "en", "s2"), (4, "ten", "en", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    want = {
        (r["lang"], r["source"]): (r["n_docs"], r["sum_tokens"], r["min_tokens"], r["max_tokens"])
        for r in corpus_stats_delta(all_docs).collect()
    }
    assert got == want

    # redelivery idempotence: a crash between rollup flip and checkpoint
    # commit redelivers already-applied batches.  Simulate with a fresh
    # checkpoint over the same landing dir: batch ids restart at 0, all
    # ≤ the id stamped on the current rollup generation → every merge
    # is skipped and the rollup is unchanged (no double counting).
    assert wh.write_meta("corpus_stats")["last_batch_id"] >= 0
    s4 = stream_corpus_stats(spark, str(land), wh, str(tmp_path / "ckpt2"))
    assert s4.n_docs == 0
    got_after = {
        (r["lang"], r["source"]): (r["n_docs"], r["sum_tokens"], r["min_tokens"], r["max_tokens"])
        for r in wh.read("corpus_stats").collect()
    }
    assert got_after == want


def test_resample_gapfill_semantics(spark):
    """Gaps get zero counts and LOCF sums; occupied buckets keep their
    own sum; the spine spans first..last bucket inclusive."""
    from datetime import datetime

    from aquiles_etl_pipeline_spark.relational.timeseries import resample_fill_gaps

    rows = [
        ("a", datetime(2024, 1, 1, 0, 30), 1.0),
        ("a", datetime(2024, 1, 1, 0, 45), 2.0),
        # hours 1-2 silent
        ("a", datetime(2024, 1, 1, 3, 10), 5.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = sorted(
        resample_fill_gaps(df).collect(), key=lambda r: r["bucket_start"]
    )
    assert len(out) == 4  # hours 0,1,2,3
    assert [r["n_events"] for r in out] == [2, 0, 0, 1]
    assert out[0]["bucket_sum"] == 3.0 and out[0]["filled_sum"] == 3.0
    assert out[1]["bucket_sum"] is None and out[1]["filled_sum"] == 3.0
    assert out[2]["filled_sum"] == 3.0
    assert out[3]["bucket_sum"] == 5.0 and out[3]["filled_sum"] == 5.0


def test_rolling_zscore_flags_planted_outlier(spark):
    from datetime import datetime

    from aquiles_etl_pipeline_spark.relational.timeseries import rolling_zscore

    t = lambda s: datetime(2024, 1, 1, 10, 0, s)  # noqa: E731
    rows = [(1, i, t(i), 10.0 + (i % 2) * 0.5) for i in range(8)]
    rows.append((1, 8, t(8), 500.0))  # planted spike
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, value double"
    )
    out = {r["event_id"]: r for r in rolling_zscore(df).collect()}
    assert out[8]["is_anomaly"] is True and out[8]["zscore"] > 1.5
    assert all(not out[i]["is_anomaly"] for i in range(2, 8))
    # first window has a single row -> no score
    assert out[0]["zscore"] is None and out[0]["is_anomaly"] is None


def test_session_conversion_semantics(spark):
    from datetime import datetime, timedelta

    from aquiles_etl_pipeline_spark.relational.timeseries import session_conversion

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    t = lambda m: t0 + timedelta(minutes=m)  # noqa: E731
    rows = [
        # session 1: view then purchase -> converted
        (1, 1, t(0), "view"), (1, 2, t(5), "purchase"),
        # 40-min gap -> session 2: purchase BEFORE view -> not converted
        (1, 3, t(50), "purchase"), (1, 4, t(55), "view"),
        # user 2, one session, view only -> not converted
        (2, 5, t(0), "view"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp, event_type string"
    )
    out = {(r["user_id"], r["session_id"]): r
           for r in session_conversion(df).collect()}
    assert len(out) == 3
    assert out[(1, 1)]["converted"] is True and out[(1, 1)]["n_events"] == 2
    assert out[(1, 2)]["converted"] is False
    assert out[(2, 1)]["converted"] is False


def test_cohort_retention_triangle(spark):
    from datetime import datetime

    from aquiles_etl_pipeline_spark.relational.timeseries import cohort_retention

    # week of 2024-01-01 is a Monday; user 1 active weeks 0 and 2,
    # user 2 (same cohort) week 0 only, user 3 cohorts a week later
    rows = [
        (1, datetime(2024, 1, 2)), (1, datetime(2024, 1, 16)),
        (2, datetime(2024, 1, 3)),
        (3, datetime(2024, 1, 9)),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = {(r["cohort_week"], r["week_offset"]): r["n_active_users"]
           for r in cohort_retention(df).collect()}
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_bitmap_dau_checkpoint_rollup_unit(spark, tmp_path):
    """The checkpoint and the bitmap rollup are a unit: a FRESH
    checkpoint pointed at an already-fed warehouse table restarts
    batch ids at 0, every batch trips the idempotence gate, and the
    rollup is unchanged — re-counting requires a fresh table, exactly
    as documented for the corpus-stats stream."""
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.merge.warehouse import Warehouse
    from aquiles_etl_pipeline_spark.sources.jsonl import write_jsonl
    from aquiles_etl_pipeline_spark.streaming.aggregates import (
        stream_daily_active_bitmaps,
    )

    land = tmp_path / "land"
    wh = Warehouse(spark, tmp_path / "wh")
    df = spark.createDataFrame(
        [("2024-01-01", uid, uid) for uid in range(10)]
        + [("2024-01-02", uid % 3, 100 + uid) for uid in range(6)],
        "day string, user_id long, event_id long",
    )
    write_jsonl(df, str(land), compression=None, shards=2)

    stream_daily_active_bitmaps(spark, str(land), wh, str(tmp_path / "ck1"))
    first = {
        r["day"]: (r["nd"], r["ne"])
        for r in wh.read("dau_bitmap")
        .groupBy("day")
        .agg(
            F.sum(F.bit_count("bits")).alias("nd"),
            F.sum("n_events").alias("ne"),
        )
        .collect()
    }
    assert first == {"2024-01-01": (10, 10), "2024-01-02": (3, 6)}

    # replay the same landing dir through a FRESH checkpoint: the gate
    # must skip every redelivered batch (ids restart at 0)
    stream_daily_active_bitmaps(spark, str(land), wh, str(tmp_path / "ck2"))
    second = {
        r["day"]: (r["nd"], r["ne"])
        for r in wh.read("dau_bitmap")
        .groupBy("day")
        .agg(
            F.sum(F.bit_count("bits")).alias("nd"),
            F.sum("n_events").alias("ne"),
        )
        .collect()
    }
    assert second == first


def test_space_saving_eviction_guarantee():
    """Past capacity, space-saving must keep heavy items and bound the
    overestimate by the evicted minimum (Metwally et al. invariants);
    driver-side check of the pure update function."""
    import pandas as pd

    from aquiles_etl_pipeline_spark.streaming.stateful import (
        _update_space_saving,
    )

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

    fn = _update_space_saving(capacity=2)
    state = FakeState()
    # heavy user 1 (6x), medium 2 (3x), singleton 3 — capacity 2
    pdf = pd.DataFrame({"user_id": [1] * 6 + [2] * 3 + [3]})
    out = pd.concat(list(fn((0,), iter([pdf]), state)))
    got = dict(zip(out["user_id"], out["est_count"]))
    assert len(got) == 2, "capacity must bound the counter table"
    assert 1 in got and got[1] == 6, "heavy item must survive exactly"
    # the evicted-min inheritance: whoever holds the second slot may
    # overestimate by at most the minimum counter at eviction time
    other = next(u for u in got if u != 1)
    true_counts = {1: 6, 2: 3, 3: 1}
    assert got[other] >= true_counts.get(other, 0)
    assert got[other] <= true_counts.get(other, 0) + 3
    # second batch: existing key increments exactly, state threads
    out2 = pd.concat(list(fn((0,), iter([pd.DataFrame({"user_id": [1]})]), state)))
    got2 = dict(zip(out2["user_id"], out2["est_count"]))
    assert got2[1] == 7


def test_session_kernel_out_of_order_and_null_cents():
    """Driver-side check of the _update_sessions kernel invariants the
    q241 gate never exercises: a late cross-batch event within one gap
    of the open session's start must MERGE and extend start backwards;
    a late event a full gap before start must close immediately as its
    own session; null cents must count the event while contributing 0
    (SUM-skips-null parity) instead of crashing the astype."""
    import pandas as pd

    from aquiles_etl_pipeline_spark.streaming.stateful import (
        _update_sessions,
    )

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

        def getCurrentWatermarkMs(self):
            return 0

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

        def remove(self):
            self.exists = False

    gap = 30 * 60 * 1_000_000  # 30 min in us
    fn = _update_sessions(gap)
    state = FakeState()
    t0 = 10_000 * 1_000_000

    # batch 1: one event at t0, with NULL cents (NaN float column)
    b1 = pd.DataFrame({"ts_us": [t0], "event_id": [1],
                       "cents": pd.array([None], dtype="float64")})
    out1 = list(fn((7,), iter([b1]), state))
    assert out1 == [], "open session must not emit"
    assert state.get == (t0, t0, 1, 0), "null cents must count as 0"

    # batch 2: late event 10 min BEFORE start -> merge, start moves back
    late = t0 - 10 * 60 * 1_000_000
    b2 = pd.DataFrame({"ts_us": [late], "event_id": [2], "cents": [5.0]})
    assert list(fn((7,), iter([b2]), state)) == []
    assert state.get == (late, t0, 2, 5), "late in-gap event must extend start"

    # batch 3: late event a FULL gap before start -> own closed session
    ancient = late - gap
    b3 = pd.DataFrame({"ts_us": [ancient], "event_id": [3], "cents": [9.0]})
    out3 = pd.concat(list(fn((7,), iter([b3]), state)))
    assert len(out3) == 1
    r = out3.iloc[0]
    assert (r["start_us"], r["end_us"], r["n_events"], r["sum_cents"]) == (
        ancient, ancient, 1, 9
    ), "an unbridgeable late event must close as its own session"
    assert state.get == (late, t0, 2, 5), "open session must be untouched"

    # batch 4: in-order event past the gap -> data-closes the open session
    t1 = t0 + gap
    b4 = pd.DataFrame({"ts_us": [t1], "event_id": [4], "cents": [1.0]})
    out4 = pd.concat(list(fn((7,), iter([b4]), state)))
    assert len(out4) == 1 and out4.iloc[0]["n_events"] == 2
    assert state.get == (t1, t1, 1, 1)


def test_stream_batch_confs_sizing(spark, tmp_path, monkeypatch):
    """stream_batch_confs sizes shuffle/state partitions to the landed
    input bytes (ceil(bytes/target), floor 1, cap 4x parallelism), floors
    at defaultParallelism for python_state drains, and restores the
    session confs on exit."""
    from aquiles_etl_pipeline_spark import session
    from aquiles_etl_pipeline_spark.session import stream_batch_confs

    before_n = spark.conf.get("spark.sql.shuffle.partitions")
    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    par = spark.sparkContext.defaultParallelism

    land = tmp_path / "land"
    land.mkdir()
    (land / "a.json").write_bytes(b"x" * 1000)

    # tiny input -> 1 partition, AQE off inside the scope
    with stream_batch_confs(spark, land):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_n
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe

    # input-derived count: 3 target-sized chunks -> 3 partitions
    monkeypatch.setattr(session, "PARTITION_BYTES", 400)
    with stream_batch_confs(spark, land):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"

    # python_state floors at defaultParallelism (per-group Python work
    # parallelizes across cores; input bytes do not bound it)
    monkeypatch.setattr(session, "PARTITION_BYTES", 64 << 20)
    with stream_batch_confs(spark, land, python_state=True):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(par)

    # cap at 4x parallelism for any backlog size
    monkeypatch.setattr(session, "PARTITION_BYTES", 1)
    with stream_batch_confs(spark, land):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(4 * par)

    # multiple inputs sum their bytes
    land2 = tmp_path / "land2"
    land2.mkdir()
    (land2 / "b.json").write_bytes(b"y" * 1000)
    monkeypatch.setattr(session, "PARTITION_BYTES", 1000)
    with stream_batch_confs(spark, land, land2):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"


def test_stream_batch_confs_floor_when_input_unreadable(spark, tmp_path, monkeypatch, caplog):
    """A landed file the driver cannot stat gives the drain its floor
    count and a warning that names the path, instead of raising inside
    the query."""
    import logging
    from pathlib import Path

    from aquiles_etl_pipeline_spark.session import stream_batch_confs

    land = tmp_path / "land"
    land.mkdir()
    (land / "a.json").write_bytes(b"x" * 1000)
    real_stat = Path.stat

    def stat(self, *args, **kwargs):
        if self.name == "a.json":
            raise PermissionError(13, "Permission denied", str(self))
        return real_stat(self, *args, **kwargs)

    monkeypatch.setattr(Path, "stat", stat)
    par = spark.sparkContext.defaultParallelism
    with caplog.at_level(logging.WARNING, logger="aquiles_etl_pipeline_spark.session"):
        with stream_batch_confs(spark, land):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
        with stream_batch_confs(spark, land, python_state=True):
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(par)
    assert any(str(land) in r.getMessage() for r in caplog.records)


@pytest.fixture()
def tuner(spark, monkeypatch):
    """The session module with a fresh dataset-switch memo, acting as
    in a session launched without a shuffle count (the test session
    pins 8 at launch, which the tuner never overrides); restores the
    memo and the session's shuffle-partition count afterwards."""
    from aquiles_etl_pipeline_spark import session

    monkeypatch.setattr(session, "_TUNED_DIR", {}, raising=False)
    monkeypatch.setattr(session, "_pinned_at_launch", lambda spark: False)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    yield session
    spark.conf.set("spark.sql.shuffle.partitions", before)


def test_shuffle_tuner_leaves_conf_when_size_unknown(spark, tmp_path, tuner):
    """A dataset whose bytes the driver cannot see (a remote URI, a
    missing or empty dir) keeps the session's count instead of being
    pinned to the cores/8 floor."""
    (tmp_path / "empty").mkdir()
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    for d in ("s3a://bucket/warehouse/sf1", str(tmp_path / "missing"), str(tmp_path / "empty")):
        tuner.tune_batch_shuffle_partitions(spark, d)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7", d


def test_shuffle_tuner_follows_dataset_switches(spark, tmp_path, tuner):
    """A session that loads from dir A, then B, then A again runs A's
    queries with A's count, not B's; loading from the dir already in
    force leaves the conf alone, so a conf scope keeps its own count."""
    import pandas as pd

    from aquiles_etl_pipeline_spark.session import scoped_confs

    par = spark.sparkContext.defaultParallelism
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        d.mkdir()
        pd.DataFrame({"x": [1, 2]}).to_parquet(d / "t.parquet")
    # a sparse file: 4x cores' worth of 64 MB targets, no disk used
    with open(b / "filler.bin", "wb") as f:
        f.truncate((64 << 20) * 4 * par)
    small, big = str(max(1, par // 8)), str(4 * par)

    def loaded_count(d):
        load(spark, str(d), "t")
        return spark.conf.get("spark.sql.shuffle.partitions")

    assert loaded_count(a) == small
    assert loaded_count(b) == big
    assert loaded_count(a) == small
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": "13"}):
        assert loaded_count(a) == "13"


def test_shuffle_tuner_logs_what_it_skips(spark, tmp_path, tuner, monkeypatch, caplog):
    """A dir the driver cannot size is skipped with a warning that
    names it, not swallowed silently."""
    import logging
    from pathlib import Path

    d = tmp_path / "unreadable"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"x" * 10)
    real_stat = Path.stat

    def stat(self, *args, **kwargs):
        if self.name == "t.parquet":
            raise PermissionError(13, "Permission denied", str(self))
        return real_stat(self, *args, **kwargs)

    monkeypatch.setattr(Path, "stat", stat)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    with caplog.at_level(logging.WARNING, logger="aquiles_etl_pipeline_spark.session"):
        tuner.tune_batch_shuffle_partitions(spark, str(d))
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert any(str(d) in r.getMessage() for r in caplog.records)


def test_package_shipping_failure_is_logged(spark, monkeypatch, caplog):
    """Shipping the package to a session's workers never raises, but a
    failure is logged with the exception, not swallowed."""
    import logging

    from aquiles_etl_pipeline_spark import session

    def add_py_file(path):
        raise OSError("disk full")

    monkeypatch.setattr(spark.sparkContext, "addPyFile", add_py_file)
    with caplog.at_level(logging.WARNING, logger="aquiles_etl_pipeline_spark.session"):
        session.ship_package_to_workers(spark)
    assert any("OSError: disk full" in r.getMessage() for r in caplog.records)


def test_get_spark_starts_quietly_and_ships_nothing(spark, monkeypatch, caplog):
    """Readying a get_spark session logs nothing at WARNING, from any
    thread it starts, and ships no package zip: its local workers
    import the package from the source tree on the JVM's PYTHONPATH."""
    import logging
    import threading

    from aquiles_etl_pipeline_spark import session

    shipped = []
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    monkeypatch.setattr(session, "_PREPARED", set())
    before = set(threading.enumerate())
    with caplog.at_level(logging.WARNING):
        session.get_spark(app_name="aquiles-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
        for t in set(threading.enumerate()) - before:
            t.join(timeout=120)
    assert [r.getMessage() for r in caplog.records if r.name.startswith("aquiles_etl_pipeline_spark")] == []
    assert shipped == []


def test_prepare_session_ships_package_once_when_workers_lack_it(spark, monkeypatch):
    """A session whose workers cannot import the package (a foreign
    one) gets the parquet read confs and one zip of the package, however
    often it is readied."""
    import zipfile

    from aquiles_etl_pipeline_spark import session

    shipped = []
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    monkeypatch.setattr(session, "_PREPARED", set())
    monkeypatch.setattr(session, "_workers_import_package", lambda s: False)
    confs = session._PARQUET_READ_CONFS
    try:
        for k in confs:
            spark.conf.unset(k)
        session.prepare_session(spark)
        session.prepare_session(spark)
        assert {k: spark.conf.get(k) for k in confs} == confs
    finally:
        for k, v in confs.items():
            spark.conf.set(k, v)
    assert len(shipped) == 1
    assert "aquiles_etl_pipeline_spark/session.py" in zipfile.ZipFile(shipped[0]).namelist()


def test_shipped_package_zip_is_removed_at_exit(monkeypatch):
    """The package zip a process ships is deleted by the exit handler
    registered when the zip is built, after the context that serves it
    to workers has stopped."""
    import atexit
    import os
    from types import SimpleNamespace

    from pyspark import SparkContext

    from aquiles_etl_pipeline_spark import session

    shipped, at_exit, events = [], [], []
    monkeypatch.setattr(session, "_PKG_ZIP", None)
    monkeypatch.setattr(atexit, "register", at_exit.append)
    session.ship_package_to_workers(
        SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
    )
    [zpath] = shipped
    assert os.path.exists(zpath) and at_exit == [session._remove_package_zip]
    monkeypatch.setattr(
        SparkContext, "_active_spark_context",
        SimpleNamespace(stop=lambda: events.append(("stopped", os.path.exists(zpath)))),
    )
    at_exit[0]()
    assert events == [("stopped", True)]
    assert not os.path.exists(zpath) and session._PKG_ZIP is None


@pytest.mark.parametrize(
    "gib, heap", [(16, "8192m"), (128, "32768m"), (1, "1024m")]
)
def test_driver_memory_default_is_half_of_physical_memory(monkeypatch, gib, heap):
    """get_spark's heap default is half of physical memory, between 1g
    and 32g; SPARK_DRIVER_MEMORY overrides it."""
    import os

    from aquiles_etl_pipeline_spark import session

    sysconf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (gib << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session.driver_memory() == heap
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"


@pytest.mark.slow
def test_foreign_session_workers_import_the_package(tmp_path, sf_dir):
    """A plain ``SparkSession.builder`` session (the grading driver's
    shape: a cwd outside the repo, no PYTHONPATH, the repo only on the
    driver's sys.path as ``__spark_entry__.py`` puts it) runs catalog
    queries to completion: q14, and q103, whose mapInPandas closure
    calls a package function that its workers must import."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from aquiles_etl_pipeline_spark.relational import registry

        spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
        for name in ("q14_etl_price_clean", "q103_image_decode_stats"):
            print(name, len(registry()[name].fn(spark, {sf_dir!r}).collect()))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    assert "q103_image_decode_stats" in run.stdout


def _sized_dir(d, targets: int) -> None:
    """Give dir ``d`` a sparse filler of ``targets`` 64 MB shuffle
    targets (no disk used), so its input-derived count is targets + 1
    (under the 4x-cores cap)."""
    d.mkdir(exist_ok=True)
    with open(d / "filler.bin", "wb") as f:
        f.truncate((64 << 20) * targets)


def test_launch_pinned_shuffle_count_survives_catalog_load(spark, tmp_path, monkeypatch):
    """The test session is launched with 8 shuffle partitions; loading a
    dataset whose input-derived count differs (3) keeps 8, so plan
    shapes follow the caller's count, not the machine's cores."""
    import pandas as pd

    from aquiles_etl_pipeline_spark import session

    monkeypatch.setattr(session, "_TUNED_DIR", {})
    assert spark.sparkContext.getConf().get("spark.sql.shuffle.partitions") == "8"
    d = tmp_path / "sized"
    _sized_dir(d, 2)
    pd.DataFrame({"x": [1, 2]}).to_parquet(d / "t.parquet")
    load(spark, str(d), "t")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def _nanos_events(d) -> None:
    """An ``events`` table whose ts is INT64 TIMESTAMP(NANOS)."""
    import pandas as pd

    pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-03-15 12:30:45.123456789", "2024-03-16 00:00:00.000000000"]),
        }
    ).to_parquet(d / "events.parquet", version="2.6", coerce_timestamps=None)


def test_catalog_load_of_events_sets_no_conf(spark, tmp_path, monkeypatch):
    """Loading ``events`` (nanos timestamps, from a dir whose size would
    retune the count) is a pure read: the session's confs are the same
    before and after, and the nanos come back as floor-truncated
    microsecond timestamps."""
    from aquiles_etl_pipeline_spark import session

    monkeypatch.setattr(session, "_TUNED_DIR", {})
    d = tmp_path / "ev"
    _sized_dir(d, 4)
    _nanos_events(d)
    before = spark.conf.getAll
    df = load(spark, str(d), "events")
    assert spark.conf.getAll == before
    assert [r.ts for r in df.orderBy("event_id").collect()] == [
        datetime(2024, 3, 15, 12, 30, 45, 123456),
        datetime(2024, 3, 16),
    ]


def test_nanos_parquet_reads_in_a_fresh_session(spark, tmp_path):
    """A session of this launch reads INT64 TIMESTAMP(NANOS) parquet as
    raw longs without any catalog load having set that up first."""
    from pyspark.sql.types import LongType

    _nanos_events(tmp_path)
    df = spark.newSession().read.parquet(str(tmp_path / "events.parquet"))
    assert isinstance(df.schema["ts"].dataType, LongType)
    assert df.count() == 2


def test_land_sentinel_single_parseable_file(spark, tmp_path):
    """_land_sentinel writes ONE JSONL file whose rows parse through the
    same schema-enforced streaming-source read path as a Spark-rendered
    wave — including the _ts_json timestamp rendering (millisecond
    ISO-8601 with zone, the JSON writer's own format under UTC)."""
    from datetime import datetime

    from aquiles_etl_pipeline_spark.relational.stream_queries import (
        _land_sentinel,
        _ts_json,
    )

    land = tmp_path / "land"
    land.mkdir()
    dt = datetime(2024, 3, 15, 12, 30, 45, 123456)
    _land_sentinel(
        land, "s1",
        [{"event_id": -1, "user_id": -1, "ts": _ts_json(dt), "value": 0.0}],
    )
    files = list(land.glob("*.json"))
    assert len(files) == 1, "a sentinel wave must be exactly one file"
    assert files[0].name == "s1_sentinel.json"
    # no scratch temp left beside the land dir
    assert not list(tmp_path.glob("_sent_*"))

    got = (
        spark.read.schema("event_id long, user_id long, ts timestamp, value double")
        .json(str(land))
        .collect()
    )
    assert len(got) == 1
    row = got[0]
    assert row.event_id == -1 and row.user_id == -1 and row.value == 0.0
    # millisecond precision survives the round trip (micros truncate)
    assert row.ts == datetime(2024, 3, 15, 12, 30, 45, 123000)


def test_reland_wave_copies_rendered_shards_under_new_names(spark, tmp_path):
    """_reland_wave (q370 redelivery) republishes the ALREADY-rendered
    shard files byte-identically under a fresh tag — no re-render."""
    from aquiles_etl_pipeline_spark.relational.stream_queries import (
        _land_wave,
        _reland_wave,
    )

    root = tmp_path
    land = root / "land"
    land.mkdir()
    df = spark.range(8).select(
        F.col("id").alias("event_id"), (F.col("id") * 10).alias("cents")
    )
    _land_wave(root, land, df, "a")
    first = sorted(land.glob("a_*.json"))
    assert first, "wave a must have landed"

    _reland_wave(root, land, "a", "a_redelivered")
    second = sorted(land.glob("a_redelivered_*.json"))
    assert len(second) == len(first)
    # byte-identical content, new names — exactly at-least-once redelivery
    assert [f.read_bytes() for f in first] == [f.read_bytes() for f in second]
    assert {f.name for f in first}.isdisjoint({f.name for f in second})
