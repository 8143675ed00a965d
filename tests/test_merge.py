"""Tests for the reconstructed MERGE contracts (SURVEY.md §2.6) and the
end-to-end ingestion flow: insert-if-absent providers, hash-keyed
product upsert, FK resolution, UoM auto-create, synonym resolution,
ledger lifecycle, and batch idempotency."""

from __future__ import annotations

import threading
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from aquiles_etl_pipeline_spark import ledger
from aquiles_etl_pipeline_spark.merge import Warehouse, bootstrap
from aquiles_etl_pipeline_spark.sources import (
    DeterministicMockExtractor,
    process_csv_file,
    process_csv_text,
    process_invoice_image,
)

CSV = """Producto,Fecha 1,Provedor,Precio
Arroz Premium 500g x 12 (G13),15/03/2024,ProvedorA S.A.S,2.500
Aceite Capullo 500ml,21/04/2025,Canasta,1.347
Arroz Premium 500g x 12 (G13),16/03/2024,Canasta,2.600
"""


@pytest.fixture()
def wh(spark, tmp_path):
    wh = Warehouse(spark, tmp_path / "warehouse")
    bootstrap(wh)
    return wh


def test_csv_end_to_end(spark, wh):
    res = process_csv_file(spark, wh, "products-dev", "lista.csv", csv_text=CSV)
    assert res.success, res.message
    assert res.rows_processed == 3

    providers = {r["Name"] for r in wh.read("provider").collect()}
    assert providers == {"Provedor A Sas", "Canasta"}

    products = wh.read("product").collect()
    assert len(products) == 2  # dup description deduped by hash
    by_desc = {p["Description"]: p for p in products}
    arroz = by_desc["Arroz Premium 500g x 12 (G13)"]
    assert str(arroz["Measure"]) == "500.00"
    assert arroz["DescriptionHash"] is not None

    uoms = {r["Acronym"] for r in wh.read("unit_of_measure").collect()}
    assert {"g", "ml"} <= uoms

    pp = wh.read("provider_product").collect()
    # arroz sold by 2 providers + aceite by 1
    assert len(pp) == 3
    assert all(r["ProductId"] is not None and r["ProviderId"] is not None for r in pp)

    # staging cleaned up (S11)
    assert wh.read("staging_provider").isEmpty()
    assert wh.read("staging_product").isEmpty()
    assert wh.read("staging_provider_product").isEmpty()


CSV_IVA = """Producto,Fecha,Provedor,Precio,IVA
Arroz Premium 500g x 12 (G13),15/03/2024,ProvedorA S.A.S,2.500,13
Aceite Capullo 500ml,21/04/2025,Canasta,1.347,19
"""


def test_ingest_jobs_keep_the_callers_job_group(spark, wh):
    """Every job a file's ingest launches, the merge's pool threads
    included, runs in the caller's job group, so a caller can attribute
    (or cancel) the whole ingest by its group."""
    from conftest import jobs_launched

    sc = spark.sparkContext
    sc.setJobGroup("ingest-under-test", "job group inheritance")
    try:
        with jobs_launched(spark) as launched:
            res = process_csv_text(spark, wh, "c", "grouped.csv", CSV_IVA)
    finally:
        sc._jsc.clearJobGroup()
    assert res.success, res.message
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    grouped = set(sc.statusTracker().getJobIdsForGroup("ingest-under-test"))
    assert launched.jobs > 0
    assert set(launched.ids) - grouped == set()


@pytest.mark.slow
def test_ledger_skip_and_idempotent_rerun(spark, wh):
    r1 = process_csv_file(spark, wh, "c", "f.csv", csv_text=CSV)
    assert r1.success and not r1.skipped
    state1 = {
        "provider": wh.read("provider").count(),
        "product": wh.read("product").count(),
        "pp": wh.read("provider_product").count(),
    }
    # second run: ledger says success → skip, nothing changes
    r2 = process_csv_file(spark, wh, "c", "f.csv", csv_text=CSV)
    assert r2.success and r2.skipped
    # same content under a NEW file name: merges are upserts → no dupes
    r3 = process_csv_file(spark, wh, "c", "f2.csv", csv_text=CSV)
    assert r3.success and not r3.skipped
    state3 = {
        "provider": wh.read("provider").count(),
        "product": wh.read("product").count(),
        "pp": wh.read("provider_product").count(),
    }
    assert state1 == state3


@pytest.mark.slow
def test_product_upsert_updates_existing(spark, wh):
    process_csv_file(spark, wh, "c", "a.csv",
                     csv_text="Producto,Provedor,Precio\nArroz 500g,Prov,100\n")
    v1 = wh.read("product").collect()[0]
    # same description (same hash) with new measure-bearing description? —
    # same text → matched row updated, not duplicated
    process_csv_file(spark, wh, "c", "b.csv",
                     csv_text="Producto,Provedor,Precio\nArroz 500g,OtroProv,120\n")
    rows = wh.read("product").collect()
    assert len(rows) == 1
    assert rows[0]["Id"] == v1["Id"]
    # two providers now reference the same product
    assert wh.read("provider_product").count() == 2


@pytest.mark.slow
def test_provider_synonym_resolution(spark, wh):
    # seed a provider + synonym: 'Canast' → Canasta
    process_csv_file(spark, wh, "c", "seed.csv",
                     csv_text="Producto,Provedor,Precio\nAzucar 1kg,Canasta,50\n")
    canasta_id = wh.read("provider").collect()[0]["Id"]
    syn = wh.spark.createDataFrame(
        [(1, "Canast", canasta_id)], "Id long, Synonym string, ProviderId long"
    )
    wh.overwrite("provider_synonym", syn)

    process_csv_file(spark, wh, "c", "syn.csv",
                     csv_text="Producto,Provedor,Precio\nSal 500g,Canast,20\n")
    # no new provider created for the synonym
    assert wh.read("provider").count() == 1
    pp = wh.read("provider_product").collect()
    assert all(r["ProviderId"] == canasta_id for r in pp)


def test_uom_alias_not_duplicated(spark, wh):
    uom = wh.spark.createDataFrame([(1, "g", "gram")], "Id long, Acronym string, Name string")
    alias = wh.spark.createDataFrame(
        [(1, "gr", 1)], "Id long, Acronym string, UnitOfMeasureId long"
    )
    wh.overwrite("unit_of_measure", uom)
    wh.overwrite("unit_of_measure_acronym", alias)
    process_csv_file(spark, wh, "c", "u.csv",
                     csv_text="Producto,Provedor,Precio\nHarina 500gr,Prov,30\n")
    # 'gr' resolves through the alias table → no new unit row
    assert wh.read("unit_of_measure").count() == 1
    prod = wh.read("product").collect()[0]
    assert prod["UnitOfMeasureId"] == 1


def test_invoice_image_path(spark, wh):
    res = process_invoice_image(
        spark, wh, DeterministicMockExtractor(fenced=True),
        "invoices-dev", "invoice1.png", b"\x89PNG fake bytes",
    )
    assert res.success, res.message
    assert res.products_extracted == 1
    assert res.csv_filename.startswith("invoice1_")
    assert {r["Name"] for r in wh.read("provider").collect()} == {"Test Provider"}
    # ledgered (reference gap fixed): re-run skips
    res2 = process_invoice_image(
        spark, wh, DeterministicMockExtractor(), "invoices-dev", "invoice1.png", b"x"
    )
    assert res2.skipped


def test_failed_file_marked_and_retryable(spark, wh):
    bad = process_csv_file(spark, wh, "c", "bad.csv", csv_text="Producto,Precio\n")
    assert not bad.success
    assert ledger.get_status(wh, "c", "bad.csv") == 4
    # failed files are retryable (only status 3 skips)
    good = process_csv_file(spark, wh, "c", "bad.csv",
                            csv_text="Producto,Provedor,Precio\nCafe 250g,Prov,90\n")
    assert good.success and not good.skipped
    assert ledger.get_status(wh, "c", "bad.csv") == 3


def test_header_gate_on_text_path(spark, wh):
    res = process_csv_text(spark, wh, "c", "nohdr.csv", "Producto,Precio\nX,1\n")
    assert not res.success and "missing" in res.message


@pytest.mark.slow
def test_invoice_archive_written_and_replayable(spark, wh, tmp_path):
    """etl_orchestrator.py:376-388 parity: the extracted CSV persists
    under {stem}_{guid8}.csv and replays through the CSV path."""
    adir = tmp_path / "archive"
    res = process_invoice_image(
        spark, wh, DeterministicMockExtractor(fenced=True),
        "invoices-dev", "inv2.png", b"\x89PNG bytes", archive_dir=str(adir),
    )
    assert res.success, res.message
    archived = adir / res.csv_filename
    assert archived.exists()
    replay = process_csv_file(
        spark, wh, "replay", res.csv_filename, csv_text=archived.read_text()
    )
    assert replay.success and replay.rows_processed == res.products_extracted


def test_bootstrap_seeds_file_status_and_new_tables(spark, wh):
    statuses = {r["Id"]: r["StatusName"] for r in wh.read("file_status").collect()}
    assert statuses == {1: "New", 2: "InProgress", 3: "Success", 4: "Failed"}
    assert wh.read("excel_file_raw").columns == [
        "Id", "ProductName", "ProviderName", "LastReviewDt", "ProductPrice"
    ]
    # ledger statuses FK-resolve against the seeded lookup
    process_csv_file(spark, wh, "c", "fs.csv",
                     csv_text="Producto,Provedor,Precio\nCafe 250g,Prov,90\n")
    pf = wh.read("process_file")
    fs = wh.read("file_status").select(F.col("Id").alias("fsid"), "StatusName")
    assert pf.join(fs, pf.StatusId == fs.fsid).count() == pf.count()


@pytest.mark.slow
def test_incremental_merge_rewrites_only_touched_buckets(spark, wh):
    """Scale regression (VERDICT r01 #6): a merge batch must be
    O(batch), not O(table) — untouched fact-table bucket partitions
    carry forward by HARDLINK (st_nlink >= 2 to the previous
    generation's files), and only the buckets the batch's keys hash to
    contain freshly written files."""
    import os

    # batch 1: enough distinct descriptions to populate many buckets
    rows = "\n".join(f"Item{i} {100+i}g,Prov,{i}" for i in range(60))
    r1 = process_csv_file(spark, wh, "c", "big.csv",
                          csv_text="Producto,Provedor,Precio\n" + rows + "\n")
    assert r1.success, r1.message
    # batch 2: ONE new product
    r2 = process_csv_file(spark, wh, "c", "one.csv",
                          csv_text="Producto,Provedor,Precio\nUnicoNuevo 5g,Prov,7\n")
    assert r2.success, r2.message

    tdir = wh.root / "product"
    cur = tdir / (tdir / "_CURRENT").read_text().strip()
    fresh_buckets, linked_buckets = set(), set()
    for f in cur.rglob("part-*"):
        bucket = f.parent.name
        if os.stat(f).st_nlink >= 2:
            linked_buckets.add(bucket)
        else:
            fresh_buckets.add(bucket)
    # the single-product batch touches exactly one bucket; every other
    # populated bucket must have moved by hardlink, not rewrite
    assert len(fresh_buckets) == 1, (fresh_buckets, linked_buckets)
    assert len(linked_buckets) >= 10
    # and the merged table is still fully consistent
    assert wh.read("product").count() == 61


def test_replace_partitions_guards_schema_drift(spark, wh):
    """ADVICE r02: replace_partitions must apply the same name+type
    schema guard append() does — a type-evolving write may not hardlink
    older-generation files under a new _GEN.json schema (schema-forced
    reads would silently cast/null them).  Divergence falls back to a
    full rewrite, keeping every row readable under ONE schema."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("Bucket", T.IntegerType()),
        T.StructField("Val", T.IntegerType()),
    ])
    df1 = spark.createDataFrame([(0, 1), (1, 2)], schema)
    wh.overwrite("t_guard", df1, partition_by=["Bucket"])
    # same schema: partition-scoped write, untouched bucket hardlinks
    df2 = spark.createDataFrame([(0, 10)], schema)
    wh.replace_partitions("t_guard", df2, "Bucket", [0])
    got = {(r["Bucket"], r["Val"]) for r in wh.read("t_guard").collect()}
    assert got == {(0, 10), (1, 2)}
    # type-evolving write (Val int -> bigint): must NOT hardlink old
    # int32 files under a bigint _GEN.json schema (schema-forced reads
    # of the old files would fail or silently cast) — full rewrite path,
    # every file written under the one widened schema
    df3 = spark.createDataFrame([(0, 100)], "Bucket: int, Val: bigint")
    wh.replace_partitions("t_guard", df3, "Bucket", [0])
    out = wh.read("t_guard")
    assert dict(out.dtypes)["Val"] == "bigint"
    assert {(r["Bucket"], r["Val"]) for r in out.collect()} == {(0, 100), (1, 2)}


def test_compact_reduces_files_and_preserves_data(spark, tmp_path):
    wh = Warehouse(spark, tmp_path / "wh")
    # simulate micro-batch appends: partitioned staging accumulating files
    for batch in range(6):
        df = spark.createDataFrame(
            [(batch * 10 + i, f"row{batch}_{i}", "g1") for i in range(5)],
            "id long, v string, BatchGuid string",
        ).repartition(3)
        wh.append("t", df, partition_by=["BatchGuid"])
    before = wh.read("t").orderBy("id").collect()
    cur = wh._current("t")
    n_files_before = len(list(cur.rglob("part-*")))
    assert n_files_before > 8  # 6 batches x 3 shards

    stats = wh.compact("t", max_files=8, target_files=1)
    assert stats, "compaction should have rewritten the fat partition"
    cur2 = wh._current("t")
    n_files_after = len(list(cur2.rglob("part-*")))
    assert n_files_after < n_files_before
    assert wh.read("t").orderBy("id").collect() == before
    # idempotent: nothing left to compact
    assert wh.compact("t", max_files=8) == {}


def test_compact_unpartitioned_table(spark, tmp_path):
    wh = Warehouse(spark, tmp_path / "wh2")
    for i in range(4):
        wh.append("u", spark.createDataFrame(
            [(i * 3 + j, f"x{j}") for j in range(3)], "id long, v string"
        ).repartition(4))
    before = {tuple(r) for r in wh.read("u").collect()}
    stats = wh.compact("u", max_files=3, target_files=2)
    assert stats
    cur = wh._current("u")
    assert len(list(cur.rglob("part-*"))) <= 2
    assert {tuple(r) for r in wh.read("u").collect()} == before


def test_generations_hold_no_success_marker(spark, tmp_path):
    """A generation's commit marker is its _GEN.json record: no write
    kind leaves Spark's _SUCCESS marker or its checksum behind, compact
    included, and history() counts the data files alone."""
    wh = Warehouse(spark, tmp_path / "wh")
    df = spark.createDataFrame([(i, f"p{i % 3}") for i in range(9)], "id long, p string")
    wh.overwrite("t", df.repartition(3), partition_by=["p"])
    wh.append("t", df.repartition(3), partition_by=["p"])
    wh.overwrite("u", df.repartition(4))
    assert wh.compact("t", max_files=4, target_files=1)
    for table in ("t", "u"):
        markers = [
            f for f in (tmp_path / "wh" / table).rglob("*") if "_SUCCESS" in f.name
        ]
        assert markers == []
        cur = wh._current(table)
        assert wh.history(table)[-1]["n_files"] == len(list(cur.rglob("part-*")))


def test_time_travel_read_and_history(spark, tmp_path):
    wh = Warehouse(spark, tmp_path / "tt", keep_generations=4)
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    wh.overwrite("t", df1)
    wh.append("t", df2)
    hist = wh.history("t")
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[-1]["is_current"] and not hist[0]["is_current"]
    # VERSION AS OF: old generation still readable
    assert wh.read("t", version=0).count() == 1
    assert wh.read("t").count() == 2
    # rollback is metadata-only
    wh.rollback("t", 0)
    assert wh.read("t").count() == 1
    assert [r["id"] for r in wh.read("t").collect()] == [1]
    # a write after rollback starts from the rolled-back state
    wh.append("t", df2)
    assert wh.read("t").count() == 2


def test_retention_window_retires_old_generations(spark, tmp_path):
    wh = Warehouse(spark, tmp_path / "ret", keep_generations=2)
    df = spark.createDataFrame([(1,)], "id int")
    for _ in range(4):
        wh.append("t", df)
    versions = [h["version"] for h in wh.history("t")]
    assert len(versions) == 2 and versions[-1] == 3
    with pytest.raises(FileNotFoundError):
        wh.read("t", version=0)


def test_retention_after_rollback_keeps_inflight_generation(spark, tmp_path):
    """Retention is relative to the pre-flip CURRENT pointer: after a
    rollback to an old generation, the next write must retain THAT
    generation (an in-flight reader may hold it), not the newest
    pre-rollback ones."""
    wh = Warehouse(spark, tmp_path / "rb", keep_generations=2)
    for i in range(3):
        df = spark.createDataFrame([(i,)], "id int")
        (wh.overwrite if i == 0 else wh.append)("t", df)
    # gens now g1, g2 (g0 retired); roll back to g1
    wh.rollback("t", 1)
    assert sorted(r["id"] for r in wh.read("t").collect()) == [0, 1]
    # write from the rolled-back state: g1 (pre-flip current) survives,
    # g2 — not the pointer's target — is the one retired
    wh.append("t", spark.createDataFrame([(9,)], "id int"))
    versions = [h["version"] for h in wh.history("t")]
    assert 1 in versions and 2 not in versions
    assert sorted(r["id"] for r in wh.read("t", version=1).collect()) == [0, 1]
    assert sorted(r["id"] for r in wh.read("t").collect()) == [0, 1, 9]


def test_incremental_aggregate_equals_full_recompute(spark, tmp_path):
    from aquiles_etl_pipeline_spark.merge.incremental import (
        corpus_stats_delta,
        refresh_additive,
    )

    wh = Warehouse(spark, tmp_path / "inc")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.where("doc_id % 2 = 0")
    b2 = docs.where("doc_id % 2 = 1")
    keys = ["lang", "source"]
    merge = {"min_tokens": "min", "max_tokens": "max"}
    refresh_additive(wh, "corpus_stats", corpus_stats_delta(b1), keys, merge)
    refresh_additive(wh, "corpus_stats", corpus_stats_delta(b2), keys, merge)
    got = {
        (r["lang"], r["source"]): (
            r["n_docs"], r["sum_tokens"], r["sum_chars"],
            r["min_tokens"], r["max_tokens"],
        )
        for r in wh.read("corpus_stats").collect()
    }
    want = {
        (r["lang"], r["source"]): (
            r["n_docs"], r["sum_tokens"], r["sum_chars"],
            r["min_tokens"], r["max_tokens"],
        )
        for r in corpus_stats_delta(docs).collect()
    }
    assert got == want


def test_refresh_additive_rejects_non_mergeable(spark, tmp_path):
    from aquiles_etl_pipeline_spark.merge.incremental import refresh_additive

    wh = Warehouse(spark, tmp_path / "inc2")
    d = spark.createDataFrame([("en", 1.5)], "lang string, avg_len double")
    with pytest.raises(ValueError):
        refresh_additive(wh, "t", d, ["lang"], {"avg_len": "avg"})


def test_compact_with_clustering_gives_disjoint_file_ranges(spark, tmp_path):
    import pyarrow.parquet as pq

    wh = Warehouse(spark, tmp_path / "clus")
    import random

    rng = random.Random(7)
    ids = list(range(1000))
    rng.shuffle(ids)
    # 10 shuffled appends -> many files with overlapping id ranges
    for i in range(10):
        chunk = ids[i * 100:(i + 1) * 100]
        wh.append("t", spark.createDataFrame([(x, f"v{x}") for x in chunk], "id long, v string"))
    stats = wh.compact("t", max_files=4, target_files=4, sort_by=["id"])
    assert stats, "compaction did not trigger"
    cur = wh._current("t")
    ranges = []
    for f in sorted(cur.rglob("part-*")):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # disjoint id ranges across files -> min/max stats can skip files
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file ranges overlap: {(lo1, hi1)} vs {(lo2, hi2)}"
    # row-identical content
    got = sorted((r["id"], r["v"]) for r in wh.read("t").collect())
    assert got == [(x, f"v{x}") for x in range(1000)]


def test_crashed_write_leaves_readable_snapshot_and_vacuums(spark, tmp_path):
    """The pointer flip is the commit point: a write that dies after
    materializing its generation dir but before the flip leaves the
    previous snapshot fully readable; vacuum removes the orphan."""
    wh = Warehouse(spark, tmp_path / "crash")
    wh.overwrite("t", spark.createDataFrame([(1,)], "id int"))
    # simulate a died write: generation dir exists, pointer never flipped
    orphan = wh._table_dir("t") / "g99"
    orphan.mkdir()
    (orphan / "part-00000-dead.parquet").write_bytes(b"not even parquet")
    assert wh.read("t").count() == 1          # readers never see the orphan
    assert wh.vacuum("t") == [99]
    assert not orphan.exists()
    wh.append("t", spark.createDataFrame([(2,)], "id int"))
    assert wh.read("t").count() == 2          # next write proceeds normally


def test_scd2_versions_history_and_as_of(spark, tmp_path):
    from aquiles_etl_pipeline_spark.merge.scd import as_of, scd2_upsert

    wh = Warehouse(spark, tmp_path / "scd")
    b1 = spark.createDataFrame(
        [(1, "Acme", "NY"), (2, "Globex", "CA")], "id int, name string, state string"
    )
    scd2_upsert(wh, "dim", b1, "id", ["name", "state"], "2024-01-01")
    # batch 2: key 1 moves state, key 3 is new, key 2 unchanged
    b2 = spark.createDataFrame(
        [(1, "Acme", "TX"), (2, "Globex", "CA"), (3, "Initech", "WA")],
        "id int, name string, state string",
    )
    scd2_upsert(wh, "dim", b2, "id", ["name", "state"], "2024-02-01")
    rows = {(r["id"], r["is_current"]): r for r in wh.read("dim").collect()}
    assert len(rows) == 4  # 1 closed + 3 open
    closed = rows[(1, False)]
    assert str(closed["valid_to"]) == "2024-02-01" and closed["state"] == "NY"
    assert rows[(1, True)]["state"] == "TX"
    assert str(rows[(2, True)]["valid_from"]) == "2024-01-01"  # untouched
    assert str(rows[(3, True)]["valid_from"]) == "2024-02-01"
    # idempotent: reapplying batch 2 changes nothing
    scd2_upsert(wh, "dim", b2, "id", ["name", "state"], "2024-02-01")
    assert wh.read("dim").count() == 4
    # as-of reads
    jan = {r["id"]: r["state"] for r in as_of(wh.read("dim"), "2024-01-15").collect()}
    assert jan == {1: "NY", 2: "CA"}
    feb = {r["id"]: r["state"] for r in as_of(wh.read("dim"), "2024-02-15").collect()}
    assert feb == {1: "TX", 2: "CA", 3: "WA"}


def test_quality_quarantine_complements_report(spark):
    """quarantine() must return exactly the rows the report counts as
    violating (any rule false-or-null — the null-hostile convention)."""
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.relational.quality import (
        expectation_report,
        quarantine,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (3, None), (4, 200.0)], "id int, v double"
    )
    rules = [
        ("v_nonneg", F.col("v") >= 0),
        ("v_small", F.col("v") < 100),
    ]
    rep = {r["rule"]: r for r in expectation_report(df, rules).collect()}
    assert rep["v_nonneg"]["n_violations"] == 2  # -1 and null
    assert rep["v_small"]["n_violations"] == 2   # 200 and null
    assert rep["v_nonneg"]["n_rows"] == 4
    bad_ids = sorted(r["id"] for r in quarantine(df, rules).collect())
    assert bad_ids == [2, 3, 4]


def test_quality_rule_names_with_quotes_and_empty_suite(spark):
    """Rule names are SQL-escaped into the stack() literal (a name with
    a quote must not break or inject), and an empty suite raises the
    same explicit ValueError as quarantine."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.relational.quality import expectation_report

    df = spark.createDataFrame([(1,), (None,)], "v int")
    rep = expectation_report(df, [("value isn't null", F.col("v").isNotNull())])
    rows = rep.collect()
    assert rows[0]["rule"] == "value isn't null"
    assert rows[0]["n_violations"] == 1
    with _pytest.raises(ValueError, match="at least one rule"):
        expectation_report(df, [])


def test_generic_merge_into_semantics(spark, tmp_path):
    """merge_into must apply SQL MERGE clause order (delete before
    update), default the update set to shared non-key columns, insert
    unmatched source rows with NULL for target-only columns, and leave
    unmatched target rows untouched."""
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.merge import Warehouse
    from aquiles_etl_pipeline_spark.merge.generic import merge_into

    wh = Warehouse(spark, tmp_path / "gm")
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "id int, name string, extra int",
    )
    wh.overwrite("t", target)
    source = spark.createDataFrame(
        [(1, "A", "U"), (2, None, "D"), (5, "E", "I")],
        "id int, name string, _op string",
    )
    stats = merge_into(
        wh,
        "t",
        source,
        on="id",
        update_set={"name": F.col("_src_name")},
        update_condition=F.col("_src__op") == "U",
        delete_condition=F.col("_src__op") == "D",
    )
    got = sorted(
        (r["id"], r["name"], r["extra"]) for r in wh.read("t").collect()
    )
    assert got == [
        (1, "A", 10),   # updated
        (3, "c", 30),   # untouched
        (4, "d", 40),   # untouched
        (5, "E", None),  # inserted; target-only column null-filled
    ]
    assert stats == {"updated": 1, "deleted": 1, "inserted": 1}


def test_generic_merge_into_refuses_duplicate_source_keys(spark, tmp_path):
    import pytest as _pytest

    from aquiles_etl_pipeline_spark.merge import Warehouse
    from aquiles_etl_pipeline_spark.merge.generic import merge_into

    wh = Warehouse(spark, tmp_path / "gmdup")
    wh.overwrite("t", spark.createDataFrame([(1, "a")], "id int, name string"))
    dup = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id int, name string"
    )
    with _pytest.raises(ValueError, match="not unique"):
        merge_into(wh, "t", dup, on="id")


def test_generic_merge_into_bucket_scoped_rewrite(spark, tmp_path):
    """With bucket_col, the merge must rewrite ONLY the touched hash
    buckets (untouched partition dirs hardlink forward: same inode) and
    still produce the correct merged state, including default
    update-set semantics (shared non-key columns take source values)."""
    import os

    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.merge import Warehouse, bucket_of
    from aquiles_etl_pipeline_spark.merge.generic import merge_into

    wh = Warehouse(spark, tmp_path / "gmb")
    base = spark.range(0, 200).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 2).cast("int").alias("v"),
    )
    wh.overwrite(
        "t",
        base.withColumn("_bucket", bucket_of("id")),
        partition_by=["_bucket"],
    )
    gen_before = wh._current("t")
    inode_of = {
        d.name: {f.name: os.stat(f).st_ino for f in d.glob("part-*")}
        for d in gen_before.iterdir()
        if d.is_dir() and d.name.startswith("_bucket=")
    }
    source = spark.createDataFrame([(7, -7), (1000, -1)], "id int, v int")
    merge_into(wh, "t", source, on="id", bucket_col="_bucket")
    after = {r["id"]: r["v"] for r in wh.read("t").collect()}
    assert after[7] == -7 and after[1000] == -1 and after[8] == 16
    assert len(after) == 201
    gen_after = wh._current("t")
    touched = {
        r[0]
        for r in source.select(bucket_of("id").alias("b")).collect()
    }
    hardlinked = 0
    for d in gen_after.iterdir():
        if not (d.is_dir() and d.name.startswith("_bucket=")):
            continue
        bval = int(d.name.split("=")[1])
        if bval not in touched and d.name in inode_of:
            for f in d.glob("part-*"):
                assert os.stat(f).st_ino == inode_of[d.name].get(f.name), (
                    f"untouched partition {d.name} was rewritten"
                )
                hardlinked += 1
    assert hardlinked > 0, "no untouched partition was hardlinked forward"


def test_generic_merge_into_refuses_foreign_bucket_rule(spark, tmp_path):
    """A target whose bucket column was populated by any rule OTHER
    than pmod(xxhash64(keys), N_BUCKETS) must be rejected: touched-
    bucket scoping would hide its matched rows from the join and
    silently re-insert existing keys (the ADVICE r05 corruption
    scenario).  The guard checks the touched base rows at runtime
    instead of trusting the docstring contract."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.merge import Warehouse
    from aquiles_etl_pipeline_spark.merge.generic import merge_into

    wh = Warehouse(spark, tmp_path / "gmfb")
    base = spark.range(0, 50).select(
        F.col("id").cast("int").alias("id"),
        F.col("id").cast("int").alias("v"),
        # WRONG rule: modulo the raw key, not pmod(xxhash64(key), N)
        (F.col("id") % 16).cast("int").alias("_bucket"),
    )
    wh.overwrite("t", base, partition_by=["_bucket"])
    source = spark.createDataFrame([(7, -7)], "id int, v int")
    with _pytest.raises(ValueError, match="not populated"):
        merge_into(wh, "t", source, on="id", bucket_col="_bucket")


def test_generic_merge_into_refuses_null_bucket_values(spark, tmp_path):
    """A NULL bucket value must count as mis-bucketed, not slip through:
    a plain != comparison evaluates to NULL (row filtered out) for NULL
    bucket_col, so a NULL-bucketed target would pass the foreign-
    bucketing guard while its rows stay invisible to the touched-bucket
    scoping — re-inserting existing keys (ADVICE r06)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.merge import Warehouse
    from aquiles_etl_pipeline_spark.merge.generic import merge_into

    wh = Warehouse(spark, tmp_path / "gmnb")
    base = spark.range(0, 50).select(
        F.col("id").cast("int").alias("id"),
        F.col("id").cast("int").alias("v"),
        F.lit(None).cast("int").alias("_bucket"),
    )
    wh.overwrite("t", base, partition_by=["_bucket"])
    source = spark.createDataFrame([(7, -7)], "id int, v int")
    with _pytest.raises(ValueError, match="not populated"):
        merge_into(wh, "t", source, on="id", bucket_col="_bucket")


def test_generic_merge_into_refuses_key_cast_nulling(spark, tmp_path):
    """Aligning the source key dtype to the target's must never null a
    real key: under legacy (non-ANSI) mode a malformed string→int key
    cast silently yields NULL, turning an update into an unmatched
    NULL-keyed insert (ADVICE r06).  The merge must refuse with a
    dtype-mismatch message instead."""
    import pytest as _pytest

    from aquiles_etl_pipeline_spark.merge import Warehouse
    from aquiles_etl_pipeline_spark.merge.generic import merge_into

    wh = Warehouse(spark, tmp_path / "gmkc")
    wh.overwrite("t", spark.createDataFrame([(1, "a")], "id int, name string"))
    # a malformed string key casts to NULL under legacy mode (an
    # overflow wraps instead — also silent, but not NULL-detectable)
    source = spark.createDataFrame(
        [("not-a-number", "x")], "id string, name string"
    )
    # the try_cast probe must raise the CURATED error under BOTH modes:
    # under default ANSI a plain cast would blow up with a raw
    # SparkException inside the probe job before the ValueError fired
    with _pytest.raises(ValueError, match="nulled a non-NULL key"):
        merge_into(wh, "t", source, on="id")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with _pytest.raises(ValueError, match="nulled a non-NULL key"):
            merge_into(wh, "t", source, on="id")
        # a well-formed string key still merges fine
        ok = spark.createDataFrame([("1", "z")], "id string, name string")
        stats = merge_into(wh, "t", ok, on="id")
        assert stats["updated"] == 1
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_table_changes_emits_delta_cdf_row_kinds(spark, tmp_path):
    """insert / delete / update_preimage+postimage between two
    generations; unchanged keys emit ZERO rows."""
    from aquiles_etl_pipeline_spark.merge import Warehouse
    from aquiles_etl_pipeline_spark.merge.cdf import table_changes

    wh = Warehouse(spark, tmp_path / "cdf")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    wh.overwrite("t", v1)
    v2 = spark.createDataFrame(
        [(1, "a", 10),          # unchanged -> no rows
         (2, "b", 99),          # update
         (4, "d", 40)],         # insert; 3 deleted
        "k int, s string, v int",
    )
    wh.overwrite("t", v2)
    gens = [g["version"] for g in wh.history("t")]
    feed = {(r["k"], r["_change_type"]): (r["s"], r["v"])
            for r in table_changes(wh, "t", gens[0], gens[1], on="k").collect()}
    assert feed == {
        (2, "update_preimage"): ("b", 20),
        (2, "update_postimage"): ("b", 99),
        (3, "delete"): ("c", 30),
        (4, "insert"): ("d", 40),
    }


def test_transaction_commits_tables_together(spark, tmp_path):
    """A multi-table transaction flips every pointer; both tables read
    the new state, and the manifest is gone."""
    from aquiles_etl_pipeline_spark.merge import Warehouse

    wh = Warehouse(spark, tmp_path / "txn")
    wh.overwrite("fact", spark.createDataFrame([(1, 10)], "k int, v int"))
    wh.overwrite("rollup", spark.createDataFrame([(10,)], "total int"))
    wh.transaction(
        {
            "fact": spark.createDataFrame([(1, 10), (2, 32)], "k int, v int"),
            "rollup": spark.createDataFrame([(42,)], "total int"),
        }
    )
    assert wh.read("fact").count() == 2
    assert wh.read("rollup").collect()[0]["total"] == 42
    assert not (tmp_path / "txn" / "_TXN.json").exists()


def test_transaction_crash_before_commit_point_aborts(spark, tmp_path):
    """Staged generations without a manifest are an ABORT: a fresh
    attach leaves both tables on their old state."""
    from aquiles_etl_pipeline_spark.merge import Warehouse

    wh = Warehouse(spark, tmp_path / "txn")
    wh.overwrite("fact", spark.createDataFrame([(1, 10)], "k int, v int"))
    wh.overwrite("rollup", spark.createDataFrame([(10,)], "total int"))
    # simulate: staging completed, crash BEFORE the manifest rename
    wh._stage("fact", spark.createDataFrame([(2, 32)], "k int, v int"))
    wh._stage("rollup", spark.createDataFrame([(42,)], "total int"))
    wh2 = Warehouse(spark, tmp_path / "txn")
    assert wh2.read("fact").count() == 1
    assert wh2.read("rollup").collect()[0]["total"] == 10


def test_transaction_crash_mid_flip_rolls_forward(spark, tmp_path):
    """Manifest present + only the first pointer flipped = crash
    between flips; the next attach completes the transaction, so no
    observer across the restart sees it half-applied."""
    import json as _json

    from aquiles_etl_pipeline_spark.merge import Warehouse

    wh = Warehouse(spark, tmp_path / "txn")
    wh.overwrite("fact", spark.createDataFrame([(1, 10)], "k int, v int"))
    wh.overwrite("rollup", spark.createDataFrame([(10,)], "total int"))
    g_f, old_f = wh._stage(
        "fact", spark.createDataFrame([(1, 10), (2, 32)], "k int, v int")
    )
    g_r, old_r = wh._stage("rollup", spark.createDataFrame([(42,)], "total int"))
    (tmp_path / "txn" / "_TXN.json").write_text(
        _json.dumps(
            {
                "fact": {"gen": g_f.name, "old": old_f},
                "rollup": {"gen": g_r.name, "old": old_r},
            }
        )
    )
    wh._flip("fact", g_f, old_f)  # crash here: rollup never flipped
    wh2 = Warehouse(spark, tmp_path / "txn")  # attach runs recovery
    assert wh2.read("fact").count() == 2
    assert wh2.read("rollup").collect()[0]["total"] == 42
    assert not (tmp_path / "txn" / "_TXN.json").exists()


def test_transaction_crash_after_last_flip_republishes(tmp_path):
    """A transaction that crashed after its last pointer flip but before
    the root manifest moved: the next attach publishes the manifest, so
    snapshot() readers see the committed generations.  Driver-side
    tables, no Spark session."""
    import json as _json

    import pyarrow as pa

    root = tmp_path / "txn"
    wh = Warehouse(None, root)
    for name in ("fact", "rollup"):
        wh.overwrite_local(name, pa.table({"v": [1]}))
    staged = {name: wh._stage(name, pa.table({"v": [1, 2]})) for name in ("fact", "rollup")}
    (root / "_TXN.json").write_text(
        _json.dumps({n: {"gen": g.name, "old": o} for n, (g, o) in staged.items()})
    )
    for name, (gen, old) in staged.items():
        wh._flip(name, gen, old, publish=False)  # crash here, before the publish

    wh2 = Warehouse(None, root)
    assert {n: wh2._current(n).name for n in staged} == {"fact": "g1", "rollup": "g1"}
    assert wh2.snapshot().tables == {"fact": "g1", "rollup": "g1"}
    assert not (root / "_TXN.json").exists()


def test_root_snapshot_pins_transaction_pairs(spark, tmp_path):
    """snapshot() resolves every table through ONE root-manifest read:
    a pair committed by one transaction stays mutually consistent in
    the snapshot even after a later transaction moves both tables."""
    from aquiles_etl_pipeline_spark.merge import Warehouse

    wh = Warehouse(spark, tmp_path / "snap")
    wh.transaction(
        {
            "fact": spark.createDataFrame([(1, 10)], "k int, v int"),
            "rollup": spark.createDataFrame([(10,)], "total int"),
        }
    )
    snap = wh.snapshot()
    wh.transaction(
        {
            "fact": spark.createDataFrame([(1, 10), (2, 32)], "k int, v int"),
            "rollup": spark.createDataFrame([(42,)], "total int"),
        }
    )
    # latest pointers see the second pair ...
    assert wh.read("fact").count() == 2
    assert wh.read("rollup").collect()[0]["total"] == 42
    # ... the pinned snapshot still sees the FIRST pair, consistently
    assert snap.read("fact").count() == 1
    assert snap.read("rollup").collect()[0]["total"] == 10
    assert wh.snapshot().version > snap.version


def test_root_snapshot_immune_to_mid_flip_mixed_state(spark, tmp_path):
    """The concurrent-flip race VERDICT r05 flagged: with table A's
    pointer already flipped but B's not (mid-step-3 of a transaction),
    a per-table-pointer reader sees a MIXED pair, while a snapshot()
    reader sees the pre-transaction pair — the root manifest only
    moves after every flip."""
    from aquiles_etl_pipeline_spark.merge import Warehouse

    wh = Warehouse(spark, tmp_path / "snapmid")
    wh.transaction(
        {
            "fact": spark.createDataFrame([(1, 10)], "k int, v int"),
            "rollup": spark.createDataFrame([(10,)], "total int"),
        }
    )
    # freeze the mid-transaction instant: stage both, flip ONLY fact
    # with publish=False (exactly what transaction() does per table)
    g_f, old_f = wh._stage(
        "fact", spark.createDataFrame([(1, 10), (2, 32)], "k int, v int")
    )
    g_r, old_r = wh._stage("rollup", spark.createDataFrame([(42,)], "total int"))
    wh._flip("fact", g_f, old_f, publish=False)
    # pointer reader: mixed (new fact, old rollup) — the documented gap
    assert wh.read("fact").count() == 2
    assert wh.read("rollup").collect()[0]["total"] == 10
    # snapshot reader: consistent pre-transaction pair
    snap = wh.snapshot()
    assert snap.read("fact").count() == 1
    assert snap.read("rollup").collect()[0]["total"] == 10
    # finish the transaction's flips + single publish
    wh._flip("rollup", g_r, old_r, publish=False)
    wh._publish_root()
    snap2 = wh.snapshot()
    assert snap2.read("fact").count() == 2
    assert snap2.read("rollup").collect()[0]["total"] == 42


def test_root_snapshot_retired_generation_raises(spark, tmp_path):
    """A snapshot outlives retention like a version read does: once
    keep_generations later writes retire its pinned generation, the
    read fails loudly instead of silently reading newer data."""
    import pytest as _pytest

    from aquiles_etl_pipeline_spark.merge import Warehouse

    wh = Warehouse(spark, tmp_path / "snapret", keep_generations=2)
    wh.overwrite("t", spark.createDataFrame([(1,)], "v int"))
    snap = wh.snapshot()
    wh.overwrite("t", spark.createDataFrame([(2,)], "v int"))
    assert snap.read("t").collect()[0]["v"] == 1  # still retained
    wh.overwrite("t", spark.createDataFrame([(3,)], "v int"))
    with _pytest.raises(FileNotFoundError, match="retired"):
        snap.read("t")


def test_root_snapshot_detects_drop_and_recreate(spark, tmp_path):
    """Generation numbers restart at g0 after drop+recreate, so a
    pinned snapshot must FAIL on the new incarnation's same-named g0
    instead of silently reading post-snapshot data (epoch check)."""
    import pytest as _pytest

    from aquiles_etl_pipeline_spark.merge import Warehouse

    wh = Warehouse(spark, tmp_path / "snapepoch")
    wh.overwrite("t", spark.createDataFrame([(1,)], "v int"))
    snap = wh.snapshot()
    wh.drop("t")
    wh.overwrite("t", spark.createDataFrame([(2,)], "v int"))
    assert wh.read("t").collect()[0]["v"] == 2
    with _pytest.raises(FileNotFoundError, match="dropped and"):
        snap.read("t")


def test_generic_merge_into_aligns_source_key_dtypes(spark, tmp_path):
    """xxhash64 is type-sensitive: the same key value as int vs bigint
    lands in different buckets.  merge_into must align source key
    dtypes to the target's so a bigint-keyed source still updates the
    int-keyed target row instead of silently re-inserting it."""
    from pyspark.sql import functions as F

    from aquiles_etl_pipeline_spark.merge import Warehouse, bucket_of
    from aquiles_etl_pipeline_spark.merge.generic import merge_into

    wh = Warehouse(spark, tmp_path / "gmdtype")
    base = spark.range(0, 50).select(
        F.col("id").cast("int").alias("id"),
        F.col("id").cast("int").alias("v"),
    )
    wh.overwrite(
        "t",
        base.withColumn("_bucket", bucket_of("id")),
        partition_by=["_bucket"],
    )
    # source key is BIGINT (spark.range default), target key is INT
    source = spark.range(7, 8).select(
        F.col("id"), F.lit(-7).cast("int").alias("v")
    )
    stats = merge_into(wh, "t", source, on="id", bucket_col="_bucket")
    after = {r["id"]: r["v"] for r in wh.read("t").collect()}
    assert after[7] == -7, "existing key was not matched (dtype bucket drift)"
    assert len(after) == 50, "existing key was duplicated instead of updated"
    assert stats["updated"] == 1 and stats["inserted"] == 0


def _within(fn, seconds=600):
    """fn(), failing instead of hanging when it has not returned in
    time: an Observation whose node never ran blocks its get() forever."""
    out = {}

    def run():
        try:
            out["result"] = fn()
        except BaseException as exc:  # re-raised below, in the test's thread
            out["error"] = exc

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(seconds)
    assert not worker.is_alive(), f"still running after {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["result"]


REPRICE_CSV = """Producto,Fecha 1,Provedor,Precio
Arroz Premium 500g x 12 (G13),20/03/2024,Canasta,2.700
Aceite Capullo 500ml,22/04/2025,Canasta,1.400
Leche Entera 1lt,22/04/2025,Lacteos Sur,3.100
"""


def test_ingest_stats_pin_every_count(spark, wh):
    """Every staging count and merge stat, worked out by hand.  The
    counts ride on the write jobs as Observation metrics, so a
    misplaced one shows here: a count doubled through a cache, shorted
    by a partial job, or a get() that never returns.

    Bootstrap (CSV): 3 rows, providers {Provedor A Sas, Canasta}, units
    {g, ml}, descriptions {Arroz, Aceite}, pairs {(Arroz, A), (Aceite,
    Canasta), (Arroz, Canasta)}; everything is new.  Re-pricing: Arroz
    and Aceite re-priced by Canasta (two matched pairs) plus one new
    product, provider, unit and pair (Leche Entera 1lt, Lacteos Sur).
    Rerun of that batch under a new file name: every source row
    matches, nothing is inserted."""

    def ingest(name, text):
        return _within(lambda: process_csv_file(spark, wh, "c", name, csv_text=text))

    boot = ingest("boot.csv", CSV)
    assert boot.success, boot.message
    assert boot.staging_counts == {"providers": 2, "products": 3, "provider_products": 3}
    assert boot.merge_stats == {
        "providers_inserted": 2,
        "units_created": 2,
        "products": {"inserted": 2, "total_source": 2},
        "provider_products": {"inserted": 3, "total_source": 3},
    }

    reprice = ingest("reprice.csv", REPRICE_CSV)
    assert reprice.success, reprice.message
    assert reprice.staging_counts == {"providers": 2, "products": 3, "provider_products": 3}
    assert reprice.merge_stats == {
        "providers_inserted": 1,
        "units_created": 1,
        "products": {"inserted": 1, "total_source": 3},
        "provider_products": {"inserted": 1, "total_source": 3},
    }

    rerun = ingest("reprice_again.csv", REPRICE_CSV)
    assert rerun.success, rerun.message
    assert rerun.staging_counts == reprice.staging_counts
    assert rerun.merge_stats == {
        "providers_inserted": 0,
        "units_created": 0,
        "products": {"inserted": 0, "total_source": 3},
        "provider_products": {"inserted": 0, "total_source": 3},
    }
    assert wh.read("product").count() == 3
    assert wh.read("provider_product").count() == 4


def test_fact_writes_leave_one_file_per_bucket(spark, wh):
    """Every bucket a fact merge rewrites is one data file.  A
    re-pricing file whose new products share buckets with re-priced
    ones (24 of each over 16 buckets) still leaves each rewritten
    _bucket= directory of product and provider_product holding exactly
    one part file; the other buckets are carried from the generation
    before."""
    header = "Producto,Fecha 1,Provedor,Precio\n"

    def rows(first, last, day):
        return "".join(
            f"Articulo {i} {i}00g,{day}/03/2024,Canasta,1.{i:03d}\n" for i in range(first, last)
        )

    boot = process_csv_file(spark, wh, "c", "boot.csv", csv_text=header + rows(0, 24, 15))
    assert boot.success, boot.message
    before = {
        t: {f.stat().st_ino for f in wh._current(t).rglob("part-*")}
        for t in ("product", "provider_product")
    }
    reprice = process_csv_file(spark, wh, "c", "reprice.csv", csv_text=header + rows(0, 48, 16))
    assert reprice.success, reprice.message
    assert reprice.merge_stats["products"] == {"inserted": 24, "total_source": 48}
    for table, old in before.items():
        files = list(wh._current(table).rglob("part-*"))
        written = {f.parent.name for f in files if f.stat().st_ino not in old}
        assert written and all(d.startswith("_bucket=") for d in written)
        per_dir = {d: sum(f.parent.name == d for f in files) for d in written}
        assert per_dir == dict.fromkeys(written, 1), table


def test_provider_and_unit_merges_launch_no_job(spark, wh):
    """M1 and U1 run on the driver: no Spark job, whatever the tables
    were written by.  M1 matches names exactly against providers and
    synonyms; U1 matches lower-cased against units and their acronym
    aliases, non-ASCII included (ÜN is ün).  New Ids continue above the
    max in key order (code-point order, as Spark sorts strings)."""
    from conftest import jobs_launched

    from aquiles_etl_pipeline_spark.merge import ensure_units_of_measure, merge_providers

    ts = datetime(2024, 3, 15, 10, 30)
    wh.overwrite("provider", spark.createDataFrame(
        [(1, "Canasta", ts), (7, "Beta", ts)], "Id long, Name string, CreateDt timestamp"
    ))
    wh.overwrite("provider_synonym", spark.createDataFrame(
        [(1, "Canast", 1)], "Id long, Synonym string, ProviderId long"
    ))
    wh.overwrite("unit_of_measure", spark.createDataFrame(
        [(1, "g", "gram"), (4, "ÜN", "unidad")], "Id long, Acronym string, Name string"
    ))
    wh.overwrite("unit_of_measure_acronym", spark.createDataFrame(
        [(1, "KGS", 9)], "Id long, Acronym string, UnitOfMeasureId long"
    ))
    with jobs_launched(spark) as launched:
        inserted = merge_providers(
            wh, ["Zeta", "Canasta", "Ñandú", "Canast", "beta", None, "Alfa"]
        )
        created = ensure_units_of_measure(wh, ["ün", "ml", "KGS", "g", "ÜN", None, "lb"])
        assert merge_providers(wh, ["Alfa", "Zeta"]) == 0
        assert ensure_units_of_measure(wh, ["ML"]) == 0
    assert launched.jobs == 0
    assert (inserted, created) == (4, 2)

    providers = {r["Name"]: r for r in wh.read("provider").collect()}
    assert {n: r["Id"] for n, r in providers.items()} == {
        "Canasta": 1, "Beta": 7, "Alfa": 8, "Zeta": 9, "beta": 10, "Ñandú": 11,
    }
    assert providers["Canasta"]["CreateDt"] == ts
    assert all(r["CreateDt"] is not None for r in providers.values())
    units = {r["Id"]: (r["Acronym"], r["Name"]) for r in wh.read("unit_of_measure").collect()}
    assert units == {1: ("g", "gram"), 4: ("ÜN", "unidad"), 5: ("lb", "lb"), 6: ("ml", "ml")}


def test_generic_merge_into_bucketed_stats(spark, tmp_path):
    """merge_into's counts on a bucket-scoped merge with all three
    clauses, from a source of another session (as a foreachBatch
    micro-batch is), and on an empty source, whose touched-bucket read
    the optimizer empties: every count is 0 and none blocks."""
    from aquiles_etl_pipeline_spark.merge import bucket_of
    from aquiles_etl_pipeline_spark.merge.generic import merge_into

    wh = Warehouse(spark, tmp_path / "gmstats")
    base = spark.range(0, 40).select(
        F.col("id").cast("int").alias("id"), F.col("id").cast("int").alias("v")
    )
    wh.overwrite(
        "t", base.withColumn("_bucket", bucket_of("id")), partition_by=["_bucket"]
    )
    source = spark.newSession().createDataFrame(
        [(3, -3, "U"), (4, 0, "D"), (5, 0, "D"), (6, -6, "X"), (100, 1, "I"), (101, 2, "I")],
        "id int, v int, _op string",
    )
    stats = _within(
        lambda: merge_into(
            wh,
            "t",
            source,
            on="id",
            update_set={"v": F.col("_src_v")},
            update_condition=F.col("_src__op") == "U",
            delete_condition=F.col("_src__op") == "D",
            bucket_col="_bucket",
        ),
    )
    # id 6 matches but neither clause fires: it stays, uncounted
    assert stats == {"updated": 1, "deleted": 2, "inserted": 2}
    after = {r["id"]: r["v"] for r in wh.read("t").collect()}
    assert after[3] == -3 and after[6] == 6 and 4 not in after and 5 not in after
    assert len(after) == 40

    empty = spark.createDataFrame([], "id int, v int")
    assert _within(lambda: merge_into(wh, "t", empty, on="id", bucket_col="_bucket")) == {
        "updated": 0, "deleted": 0, "inserted": 0,
    }
    assert wh.read("t").count() == 40


def test_staging_counts_survive_append_fallback_from_another_session(
    spark, wh, monkeypatch
):
    """The staged frames may belong to another session (a foreachBatch
    micro-batch does).  Their staging counts must still arrive, and no
    merge count may fall back to a recompute.  When such a batch's merge
    fails it is written to a staging table whose stored schema diverges,
    so Warehouse.append's union fallback rewrites it, and that rewrite
    has to keep both batches' rows."""
    from aquiles_etl_pipeline_spark.merge import observed
    from aquiles_etl_pipeline_spark.sources import orchestrator

    recomputed = []
    monkeypatch.setattr(observed._log, "warning", lambda *a: recomputed.append(a))
    legacy = spark.createDataFrame(
        [("Old", 1, "b0")], "Name string, Legacy int, BatchGuid string"
    )
    wh.overwrite("staging_provider", legacy, partition_by=["BatchGuid"])
    header, *rows = [line.split(",") for line in CSV.strip().split("\n")]
    raw = spark.newSession().createDataFrame(rows, header)

    _, _, counts, _ = _within(lambda: orchestrator.run_pipeline(wh, raw), seconds=300)
    assert counts == {"providers": 2, "products": 3, "provider_products": 3}
    assert not recomputed

    guids = []

    def failing_merge(wh, staged):
        guids.append(staged.batch_guid)
        raise RuntimeError("merge failed")

    monkeypatch.setattr(orchestrator, "merge_staging_to_fact_tables", failing_merge)
    with pytest.raises(RuntimeError, match="merge failed"):
        _within(lambda: orchestrator.run_pipeline(wh, raw), seconds=300)
    staged = wh.read("staging_provider")
    assert staged.where(F.col("BatchGuid") == guids[0]).count() == 2
    assert staged.where(F.col("BatchGuid") == "b0").count() == 1


def test_ledger_lookup_and_transitions_launch_no_job(spark, wh):
    """The ledger is a driver-side table: the skip gate and two status
    changes launch no Spark job, and Spark reads back the same row and
    the same instants."""
    from conftest import jobs_launched

    info = ledger.FileInfo("c", "f.csv", blob_size=10)
    with jobs_launched(spark) as launched:
        assert not ledger.already_processed(wh, "c", "f.csv")
        ledger.mark_in_progress(wh, info)
        ledger.mark_success(wh, info)
        assert ledger.already_processed(wh, "c", "f.csv")
    assert launched.jobs == 0

    local = wh.read_local("process_file").to_pylist()
    assert len(local) == 1
    row = local[0]
    assert (row["Id"], row["Container"], row["FileName"], row["StatusId"], row["BlobSize"]) == (
        1, "c", "f.csv", 3, 10,
    )
    assert row["CreatedDt"] <= row["ProcessDt"] == row["LastModifiedDt"]
    micros = (
        wh.read("process_file")
        .select(*[F.unix_micros(c).alias(c) for c in ("ProcessDt", "CreatedDt", "LastModifiedDt")])
        .first()
    )
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    for c in ("ProcessDt", "CreatedDt", "LastModifiedDt"):
        assert micros[c] == (row[c] - epoch) // timedelta(microseconds=1)


def test_spark_written_ledger_survives_a_driver_side_transition(spark, wh):
    """A ledger Spark wrote (INT96 timestamps) keeps every row, Id and
    instant when a new key is appended driver-side, and the new key gets
    the next Id."""
    import pyarrow.parquet as pq

    from aquiles_etl_pipeline_spark.merge.schemas import PROCESS_FILE

    t1 = datetime(2024, 3, 15, 10, 30, 0, 123456)
    t2 = datetime(2025, 1, 2, 23, 59, 59, 999999)
    legacy = spark.createDataFrame(
        [
            (1, "c", "a.csv", 3, t1, 5, None, t1, t1, None, None),
            (2, "c", "b.csv", 4, t2, None, "text/csv", t1, t2, "e1", "m1"),
        ],
        PROCESS_FILE,
    )
    wh.overwrite("process_file", legacy)
    part = next(wh._current("process_file").glob("part-*"))
    footer = pq.ParquetFile(part).schema
    assert footer.column(footer.names.index("ProcessDt")).physical_type == "INT96"
    micros = [F.unix_micros(c).alias(c) for c in ("ProcessDt", "CreatedDt", "LastModifiedDt")]

    def spark_rows():
        return {
            r["FileName"]: r.asDict()
            for r in wh.read("process_file")
            .select("Id", "FileName", "StatusId", "BlobSize", "ETag", *micros)
            .collect()
        }

    before = spark_rows()
    ledger.mark_in_progress(wh, ledger.FileInfo("c", "new.csv"))
    after = spark_rows()
    assert {k: after[k] for k in before} == before
    assert after["new.csv"]["Id"] == 3 and after["new.csv"]["StatusId"] == 2
    local = {r["FileName"]: r for r in wh.read_local("process_file").to_pylist()}
    assert local["a.csv"]["Id"] == 1 and local["b.csv"]["StatusId"] == 4
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    for name in ("a.csv", "b.csv"):
        for c in ("ProcessDt", "CreatedDt", "LastModifiedDt"):
            assert (local[name][c] - epoch) // timedelta(microseconds=1) == before[name][c]


def test_successful_ingest_writes_no_staging(spark, wh):
    """Staging is in memory: a file that merges adds no generation to
    any staging table."""
    tables = ("staging_provider", "staging_product", "staging_provider_product")
    before = {t: wh.history(t) for t in tables}
    res = process_csv_file(spark, wh, "c", "f.csv", csv_text=CSV)
    assert res.success, res.message
    assert {t: wh.history(t) for t in tables} == before


def test_failed_merge_leaves_batch_in_staging(spark, wh, monkeypatch):
    """A merge that raises leaves the batch's rows in all three staging
    tables under its BatchGuid, written after the merge failed (the
    merge itself never reads staging tables), and the ledger at
    Failed."""
    from aquiles_etl_pipeline_spark.merge import upserts

    tables = ("staging_provider", "staging_product", "staging_provider_product")
    empty_during_merge = []

    def failing_m3(wh, *args):
        empty_during_merge.extend(wh.is_empty(t) for t in tables)
        raise RuntimeError("M3 failed")

    monkeypatch.setattr(upserts, "merge_provider_products", failing_m3)
    res = process_csv_file(spark, wh, "c", "bad_merge.csv", csv_text=CSV)
    assert not res.success and "M3 failed" in res.message
    assert empty_during_merge == [True, True, True]
    assert ledger.get_status(wh, "c", "bad_merge.csv") == 4
    staged = {
        t: {r["BatchGuid"]: r["count"] for r in wh.read(t).groupBy("BatchGuid").count().collect()}
        for t in tables
    }
    (guid,) = staged["staging_provider"]
    assert staged == {
        "staging_provider": {guid: 2},
        "staging_product": {guid: 3},
        "staging_provider_product": {guid: 3},
    }


def test_observed_counts_recompute_when_the_metrics_never_arrive(spark, monkeypatch):
    """An Observation hears only of executions in its own session, so a
    frame of another session run inside this one's job never reports.
    The counts then come from recomputing the aggregate after a bounded
    wait instead of blocking forever; when the job does report they come
    from the job itself."""
    from aquiles_etl_pipeline_spark.merge import observed

    monkeypatch.setattr(observed, "WAIT_S", 0.5)
    recomputed = []
    monkeypatch.setattr(observed._log, "warning", lambda *a: recomputed.append(a))

    frame, counts = observed.observe(
        spark.newSession().range(10), F.count(F.lit(1)).alias("n")
    )
    assert spark.range(0).unionByName(frame).count() == 10
    assert _within(counts, seconds=120) == {"n": 10}
    assert len(recomputed) == 1

    frame, counts = observed.observe(spark.range(7), F.count(F.lit(1)).alias("n"))
    assert frame.count() == 7
    assert _within(counts, seconds=120) == {"n": 7}
    assert len(recomputed) == 1


WRITE_KINDS = (
    "overwrite", "append", "replace_partitions",
    "overwrite_local", "create_if_absent", "transaction",
)


def _write(spark, wh, kind: str, rows: list[tuple], partition_by: list[str] | None = None) -> None:
    """One write of ``rows`` (k int, p string) into table ``t`` through
    ``kind``; replace_partitions always partitions by ``p``, and
    overwrite_local never does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("k int, p string")
    df = spark.createDataFrame(rows, schema)
    if kind == "overwrite":
        wh.overwrite("t", df, partition_by=partition_by)
    elif kind == "append":
        wh.append("t", df, partition_by=partition_by)
    elif kind == "replace_partitions":
        wh.replace_partitions("t", df, "p", sorted({p for _, p in rows}))
    elif kind == "overwrite_local":
        arrow = to_arrow_schema(schema)
        table = pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows], schema=arrow)
        wh.overwrite_local("t", table)
    elif kind == "create_if_absent":
        wh.create_if_absent("t", schema)
    else:
        wh.transaction({"t": (df, partition_by)})


@pytest.mark.parametrize("kind", WRITE_KINDS)
def test_every_write_kind_leaves_one_record(spark, tmp_path, kind):
    """Every write kind stages its generation through one function: the
    generation holds data files (carried ones included) and one record,
    _GEN.json, and no other metadata file."""
    wh = Warehouse(spark, tmp_path / "wh")
    if kind in ("append", "replace_partitions"):
        _write(spark, wh, "overwrite", [(1, "a"), (2, "b")], ["p"])
    _write(spark, wh, kind, [(3, "a")], ["p"])
    gen = wh._current("t")
    metadata = sorted(
        str(f.relative_to(gen))
        for f in gen.rglob("*")
        if f.is_file() and not f.name.startswith(("part-", ".", "_SUCCESS"))
    )
    assert metadata == ["_GEN.json"]
    n = {"append": 3, "replace_partitions": 2, "create_if_absent": 0}.get(kind, 1)
    assert wh.read("t").count() == n


@pytest.mark.parametrize("kind", WRITE_KINDS)
def test_empty_writes_read_back_empty_with_their_schema(spark, tmp_path, kind):
    """A write of no row, through any kind (an empty Spark frame, an
    empty pyarrow table), leaves an empty generation: is_empty is true,
    and Spark and the driver read back no row under the written schema."""
    wh = Warehouse(spark, tmp_path / "wh")
    _write(spark, wh, kind, [])
    assert wh.is_empty("t")
    assert wh.history("t")[-1]["is_empty"]
    out = wh.read("t")
    assert out.schema.simpleString() == "struct<k:int,p:string>"
    assert out.count() == 0
    local = wh.read_local("t")
    assert local.num_rows == 0 and local.schema.names == ["k", "p"]


def test_carried_files_keep_their_checksums(spark, tmp_path):
    """A data file hardlinked forward from an untouched partition keeps
    its Hadoop checksum sidecar, so reads still verify it: a flipped
    byte fails the read with a ChecksumException instead of decoding
    whatever the page now holds."""
    wh = Warehouse(spark, tmp_path / "wh")
    _write(spark, wh, "overwrite", [(1, "a"), (2, "b")], ["p"])
    _write(spark, wh, "replace_partitions", [(3, "a")])
    (carried,) = (wh._current("t") / "p=b").glob("part-*")
    assert carried.stat().st_nlink == 2  # carried, not rewritten
    data = bytearray(carried.read_bytes())
    data[4] ^= 0xFF  # the first page, just past the PAR1 magic
    carried.write_bytes(bytes(data))

    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError) as caught:
        wh.read("t").collect()
    causes = []
    err = caught.value.java_exception
    while err is not None:
        causes.append(err.getClass().getName())
        err = err.getCause()
    assert "org.apache.hadoop.fs.ChecksumException" in causes, causes


def test_generation_without_record_is_refused(spark, tmp_path):
    """A generation whose record is gone is refused, naming the table
    and the generation; no read falls back to footer inference, so the
    refusal launches no Spark job."""
    from conftest import jobs_launched

    wh = Warehouse(spark, tmp_path / "wh")
    wh.overwrite("t", spark.createDataFrame([(1, "a")], "k int, p string"))
    (wh._current("t") / "_GEN.json").unlink()
    more = spark.createDataFrame([(2, "b")], "k int, p string")
    probes = (
        lambda: wh.read("t"),
        lambda: wh.read("t", version=0),
        lambda: wh.read_local("t"),
        lambda: wh.is_empty("t"),
        lambda: wh.append("t", more),
        lambda: wh.replace_partitions("t", more, "p", ["b"]),
    )
    with jobs_launched(spark) as launched:
        for probe in probes:
            with pytest.raises(FileNotFoundError, match="table t generation g0 "):
                probe()
    assert launched.jobs == 0


def test_history_skips_a_write_that_did_not_finish(spark, tmp_path):
    """A generation directory without a record (a write that died
    before its record) is not listed by history(), which keeps working
    until vacuum() removes the debris."""
    wh = Warehouse(spark, tmp_path / "wh")
    wh.overwrite("t", spark.createDataFrame([(1,)], "id int"))
    (wh._table_dir("t") / "g7").mkdir()
    assert [h["version"] for h in wh.history("t")] == [0]
    assert wh.vacuum("t") == [7]
