"""The three MERGE jobs + unit-of-measure auto-create.

Owns the reference's out-of-engine relational logic: the T-SQL procs
usp_MergeProvidersFromStaging / usp_MergeProductsFromStaging /
usp_MergeProviderProductsFromStaging invoked at
/root/reference/core/etl_orchestrator.py:168-189, whose bodies are not
in the repo.  Contracts reconstructed (SURVEY.md §2.6) from the staging
shapes, the placeholder-FK comment (etl:151-152), the DescriptionHash
identity index (core/entities.py:106,116) and docs/ETL_ENHANCEMENTS.md:
23-29:

  M1 Provider          — insert-if-absent by Name (synonyms resolve to
                         existing providers and are not re-inserted)
  M2 Product           — upsert keyed on sha256(Description)
  U1 UnitOfMeasure     — auto-create unseen acronyms before M2
  M3 Provider_Product  — upsert keyed on (ProductId, ProviderId) after
                         resolving FKs from denormalized staging names

M1 and U1 are set lookups on the driver: the batch's provider names
and units arrive with its staging projections (staging.split.StagedBatch,
gathered by the ingest chain's one aggregate), and the small dimension
tables they extend are read and written with pyarrow
(``Warehouse.read_local``/``overwrite_local``), so neither launches a
Spark job.  M2 and M3 are DataFrame joins against the batch's in-memory
staging projections, lazy over the chain's cached frame.  Every merge
is idempotent per batch: re-running the same batch converges to the
same table state — that is this engine's substitute for the
reference's single cross-table SQL transaction (etl:171).
``Warehouse.transaction`` can commit several tables atomically, and
every write kind has a stage-only half it could use, but the chain
does not commit through it yet: each merge flips its own table
(ROADMAP direction 3).  The reference's S11 staging cleanup has
nothing to delete: staging tables are written only for a batch whose
merge failed (sources.orchestrator.run_pipeline).

Stats: M1 and U1 return the number of keys they inserted, counted on
the driver; they write only when it is non-zero.  M2 and M3 report
``inserted`` and ``total_source`` through an ``Observation`` on the
frame their write job computes (merge.observed), so the counts cost no
job of their own.

Scale: staging batches are file-sized (small); every staging-vs-fact
join broadcasts the staging side.  Fact rewrites become Delta MERGE
file-level rewrites on a real cluster (see warehouse.py seam).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from datetime import datetime, timezone
from typing import TYPE_CHECKING, Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import scalar
from .observed import observe
from .schemas import bucket_of
from .warehouse import Warehouse

if TYPE_CHECKING:
    from ..staging import StagedBatch


def _next_ids(existing: DataFrame, new_rows: DataFrame, order_col: str) -> DataFrame:
    """Assign sequential Ids to new_rows above max(existing.Id),
    ordered by order_col.

    Inserts are batch-sized by construction, so this is one
    single-partition window: ONE stage.  max(Id) rides along as a
    broadcast 1-row cross join instead of a .collect(): one fewer driver
    round-trip per merge, and the whole id assignment stays a single
    lazy plan.  Delta GENERATED ALWAYS AS IDENTITY replaces it on a
    real cluster."""
    maxdf = existing.agg(
        F.coalesce(F.max("Id"), F.lit(0)).cast("long").alias("_maxid")
    )
    w = Window.partitionBy(F.lit(1)).orderBy(order_col)
    return (
        new_rows.coalesce(1)
        .crossJoin(F.broadcast(maxdf))
        .withColumn("Id", (F.col("_maxid") + F.row_number().over(w)).cast("long"))
        .drop("_maxid")
    )


def _observed(merged: DataFrame) -> tuple[DataFrame, Callable[[], dict[str, int]]]:
    """Attach M2/M3's row counts to the frame their write job computes.

    ``_op`` is 1 on a target row the source matched, 2 on an inserted
    row and NULL on a carried-forward row; it is dropped before the
    write.  The Observation sits above any persisted frame, so only the
    merge's own write job evaluates it (a cache filled by a concurrent
    job can neither double nor short the count)."""
    observed, counts = observe(
        merged,
        F.count_if(F.col("_op") == 2).alias("inserted"),
        F.count("_op").alias("total_source"),
    )
    return observed.drop("_op"), counts


def _by_bucket(merged: DataFrame) -> DataFrame:
    """Hash-partition a fact write by ``_bucket``, so each bucket it
    rewrites is one file.  Left as it comes, every write task writes a
    file into each bucket its rows reach: about 80 small files per fact
    table per file ingested.  Measured together with M1/U1 on the
    driver (``perfbench`` ``ingest_files``, 4 cores): files written per
    ingested file 203 → 73 (traced, seed 1), ``op_p50_s`` 5.16 → 4.68 s
    (median of 10 seed pairs); the extra shuffle costs less than the
    small files it saves."""
    return merged.repartition(8, "_bucket")


def _insert_if_absent(
    wh: Warehouse, table: str, key: str, alias_table: str, alias_key: str,
    keys: Iterable[str | None], norm: Callable[[str], str], row: Callable[[str], dict],
) -> int:
    """M1 and U1's one body, on the driver: insert the distinct ``keys``
    that match, through ``norm``, no ``key`` of ``table`` and no
    ``alias_key`` of ``alias_table``, as rows ``row(key)``.  Ids continue
    above the table's max in key order, the order ``_next_ids`` gives:
    Spark orders strings by their UTF-8 bytes, which is Python's
    code-point order.  Returns the count; writes only when it is
    non-zero.  Both tables are small lookups, read and written with
    pyarrow, so no Spark job runs."""
    target = wh.read_local(table)
    known = {
        norm(v)
        for column in (target[key], wh.read_local(alias_table)[alias_key])
        for v in column.to_pylist()
        if v is not None
    }
    new = sorted({norm(k) for k in keys if k is not None} - known)
    if new:
        top = pc.max(target["Id"]).as_py() or 0
        added = pa.Table.from_pylist(
            [{"Id": top + n, **row(k)} for n, k in enumerate(new, start=1)],
            schema=target.schema,
        )
        wh.overwrite_local(table, pa.concat_tables([target, added]))
    return len(new)


def merge_providers(wh: Warehouse, names: Iterable[str | None]) -> int:
    """M1: insert the batch's provider ``names`` that match no provider
    Name and no synonym, exactly.  Returns the number inserted."""
    now = datetime.now(timezone.utc)
    return _insert_if_absent(
        wh, "provider", "Name", "provider_synonym", "Synonym",
        names, lambda k: k, lambda k: {"Name": k, "CreateDt": now},
    )


def ensure_units_of_measure(wh: Warehouse, units: Iterable[str | None]) -> int:
    """U1 (docs/ETL_ENHANCEMENTS.md:23): create the batch's unseen
    ``units`` before the product merge.  Acronyms compare lower-cased,
    and acronym aliases (UnitOfMeasureAcronym) resolve to existing units
    and are not duplicated; a new unit's Acronym and Name are its
    lower-cased acronym.  Returns the number inserted."""
    return _insert_if_absent(
        wh, "unit_of_measure", "Acronym", "unit_of_measure_acronym", "Acronym",
        units, str.lower, lambda k: {"Acronym": k, "Name": k},
    )


def _resolve_uom(wh: Warehouse, df: DataFrame, unit_col: str) -> DataFrame:
    """unit string → UnitOfMeasureId via acronym alias then unit table
    (reference lookup: etl:97-109 + UnitOfMeasureAcronym entities:136-147)."""
    uom = wh.read("unit_of_measure").select(
        F.lower("Acronym").alias("_acr"), F.col("Id").alias("_uom_id")
    )
    alias = wh.read("unit_of_measure_acronym").select(
        F.lower("Acronym").alias("_alias_acr"), F.col("UnitOfMeasureId").alias("_alias_uom_id")
    )
    return (
        df.withColumn("_unit_lc", F.lower(F.col(unit_col)))
        .join(F.broadcast(alias), F.col("_unit_lc") == F.col("_alias_acr"), "left")
        .join(F.broadcast(uom), F.col("_unit_lc") == F.col("_acr"), "left")
        .withColumn("UnitOfMeasureId", F.coalesce("_alias_uom_id", "_uom_id"))
        .drop("_unit_lc", "_alias_acr", "_alias_uom_id", "_acr", "_uom_id")
    )


class _ProductMergePlan:
    """Lazy M2 merge result, split from its commit so the chain can
    overlap M2's write with M3 (which needs only the Id↔hash mapping
    carried by ``final``, not the durable parquet).  ``final`` is
    persisted: M3's mapping and M2's write share one materialization."""

    __slots__ = ("final", "touched", "_pinned")

    def __init__(self, final, touched, pinned):
        self.final = final
        self.touched = touched
        self._pinned = pinned

    def release(self) -> None:
        for df in self._pinned:
            df.unpersist()


def plan_product_merge(
    wh: Warehouse, staging: DataFrame, touched: Sequence[int]
) -> _ProductMergePlan:
    """M2: upsert keyed on DescriptionHash = sha256(Description)
    (identity implied by the IX_Product_DescriptionHash index,
    core/entities.py:106). Matched → update Measure/UnitOfMeasureId/
    UpdatedDt ('update existing ones with latest data',
    docs/ETL_ENHANCEMENTS.md:28); not matched → insert.

    Builds the merged lineage of the ``touched`` buckets (the staged
    descriptions' buckets, ``StagedBatch.product_buckets``) without
    writing.  Unit resolution stays lazy (it must see U1's units),
    riding inside the write job's broadcast joins instead of costing
    its own action."""
    # one row per distinct description within the batch (T-SQL MERGE
    # requires a unique source; keep the first by deterministic order)
    w = Window.partitionBy("DescriptionHash").orderBy("Description", "Measure", "UnitOfMeasure")
    src0 = (
        staging.withColumn("DescriptionHash", scalar.description_hash(F.col("Description")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # persist (lazily — the write job's first broadcast build fills the
    # cache) so the matched join, the insert anti-join, and the id
    # assignment don't each re-run the dedup and the two uom-resolution
    # joins
    src = _resolve_uom(wh, src0, "UnitOfMeasure").persist()

    # partition-scoped merge: the batch's keys touch a subset of the
    # fact table's buckets; only those partitions are scanned (pruned
    # read) and rewritten — untouched partitions hardlink forward.
    touched = list(touched)
    product = wh.read("product")
    base = product.where(F.col("_bucket").isin(touched))
    now = F.current_timestamp()

    matched = base.join(
        F.broadcast(
            src.select(
                "DescriptionHash",
                F.col("UnitPrice").alias("_new_unit_price"),
                F.col("Measure").cast("decimal(18,2)").alias("_new_measure"),
                F.col("UnitOfMeasureId").alias("_new_uom_id"),
                F.lit(1).alias("_op"),
            )
        ),
        "DescriptionHash",
        "left",
    )
    updated = matched.select(
        "Id",
        F.coalesce("_new_unit_price", "UnitPrice").alias("UnitPrice"),
        "Description",
        F.coalesce("_new_measure", "Measure").alias("Measure"),
        F.coalesce("_new_uom_id", "UnitOfMeasureId").alias("UnitOfMeasureId"),
        "CreatedDt",
        F.when(F.col("_new_measure").isNotNull() | F.col("_new_uom_id").isNotNull() | F.col("_new_unit_price").isNotNull(), now)
        .otherwise(F.col("UpdatedDt"))
        .alias("UpdatedDt"),
        "DescriptionHash",
        "_bucket",
        "_op",
    )

    inserts_src = src.join(
        F.broadcast(base.select("DescriptionHash")), "DescriptionHash", "left_anti"
    )
    new_rows = _next_ids(product, inserts_src, "DescriptionHash").select(
        "Id",
        F.col("UnitPrice"),
        "Description",
        F.col("Measure").cast("decimal(18,2)").alias("Measure"),
        "UnitOfMeasureId",
        now.alias("CreatedDt"),
        now.alias("UpdatedDt"),
        "DescriptionHash",
        bucket_of("DescriptionHash").alias("_bucket"),
        F.lit(2).alias("_op"),
    )
    final = updated.unionByName(new_rows).persist()
    return _ProductMergePlan(final, touched, (final, src))


def commit_product_merge(wh: Warehouse, plan: _ProductMergePlan) -> dict[str, int]:
    """Write M2's merged touched-bucket content (untouched partitions
    hardlink forward).  The plan's caches stay alive for a concurrent
    M3 still reading ``plan.final``; the caller releases them."""
    final, counts = _observed(plan.final)
    wh.replace_partitions("product", _by_bucket(final), "_bucket", plan.touched)
    return counts()


def merge_provider_products(
    wh: Warehouse, staging: DataFrame, products: DataFrame
) -> dict[str, int]:
    """M3: resolve placeholder FKs from denormalized staging names
    (etl:151-152), then upsert keyed on (ProductId, ProviderId) —
    'insert new relationships, update existing ones'
    (docs/ETL_ENHANCEMENTS.md:29).

    ``products`` (Id, DescriptionHash, ...) is M2's in-memory merged
    frame (``plan.final``), so M3 overlaps M2's write instead of
    waiting for (or re-reading) the product parquet: every staged
    description's bucket is in M2's touched set by construction, so
    the mapping is complete."""
    product = products.select(F.col("Id").alias("_product_id"), "DescriptionHash")
    provider = wh.read("provider").select(F.col("Id").alias("_provider_id"), "Name")
    synonyms = wh.read("provider_synonym").select(
        "Synonym", F.col("ProviderId").alias("_syn_provider_id")
    )

    resolved = (
        staging.withColumn("DescriptionHash", scalar.description_hash(F.col("ProductDescription")))
        .join(F.broadcast(product), "DescriptionHash", "left")
        .join(F.broadcast(synonyms), staging.ProviderName == F.col("Synonym"), "left")
        .join(F.broadcast(provider), staging.ProviderName == provider.Name, "left")
        .withColumn("ProviderIdResolved", F.coalesce("_syn_provider_id", "_provider_id"))
        .where(F.col("_product_id").isNotNull() & F.col("ProviderIdResolved").isNotNull())
    )
    # one row per (product, provider): keep the latest review date
    w = Window.partitionBy("_product_id", "ProviderIdResolved").orderBy(
        F.desc_nulls_last("LastReviewDt"), F.desc_nulls_last("Price")
    )
    src = (
        resolved.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("_product_id").alias("ProductId"),
            F.col("ProviderIdResolved").alias("ProviderId"),
            F.col("IsValidated"),
            F.to_timestamp("LastReviewDt", "yyyy-MM-dd").alias("LastReviewDt"),
            F.col("PackageUnits").try_cast("int").alias("PackageUnits"),
            "IVA",
            "Price",
        )
        .persist()  # batch-sized; shared by matched join + anti-join + write
    )

    # the touched set: collect_set, not distinct().collect(), so the
    # partial aggregate dedupes map-side and the driver round-trip is
    # one single-reduce job over #buckets values; it doubles as src's
    # persist materialization.  An empty target (the bootstrap batch)
    # has no partitions to scope the read to or carry forward, so it
    # skips this pre-flight job.
    if wh.is_empty("provider_product"):
        touched: list[int] = []
    else:
        touched = sorted(
            src.agg(
                F.collect_set(bucket_of("ProductId", "ProviderId")).alias("_bs")
            ).first()["_bs"]
        )
    pp = wh.read("provider_product")
    base = pp.where(F.col("_bucket").isin(touched))
    matched = base.alias("t").join(
        F.broadcast(src.withColumn("_op", F.lit(1)).alias("s")),
        (F.col("t.ProductId") == F.col("s.ProductId"))
        & (F.col("t.ProviderId") == F.col("s.ProviderId")),
        "left",
    )
    updated = matched.select(
        F.col("t.Id"),
        F.col("t.ProductId"),
        F.col("t.ProviderId"),
        F.coalesce(F.col("s.IsValidated"), F.col("t.IsValidated")).alias("IsValidated"),
        F.coalesce(F.col("s.LastReviewDt"), F.col("t.LastReviewDt")).alias("LastReviewDt"),
        F.coalesce(F.col("s.PackageUnits"), F.col("t.PackageUnits")).alias("PackageUnits"),
        F.coalesce(F.col("s.IVA"), F.col("t.IVA")).alias("IVA"),
        F.coalesce(F.col("s.Price"), F.col("t.Price")).alias("Price"),
        F.col("t._bucket").alias("_bucket"),
        F.col("s._op"),
    )
    inserts_src = src.alias("s").join(
        base.select("ProductId", "ProviderId").alias("t"),
        ["ProductId", "ProviderId"],
        "left_anti",
    )
    new_rows = _next_ids(pp, inserts_src, "ProductId").select(
        "Id", "ProductId", "ProviderId", "IsValidated", "LastReviewDt",
        "PackageUnits", "IVA", "Price",
        bucket_of("ProductId", "ProviderId").alias("_bucket"),
        F.lit(2).alias("_op"),
    )
    merged, counts = _observed(updated.unionByName(new_rows))
    wh.replace_partitions("provider_product", _by_bucket(merged), "_bucket", touched)
    src.unpersist()
    return counts()


def merge_staging_to_fact_tables(wh: Warehouse, staged: StagedBatch) -> dict[str, object]:
    """etl:168-189 — the three merges in the reference's dependency
    order.  M1 (providers) and U1 (units) run first, on the driver, from
    the batch's keys; M2's unit resolution then rides lazily inside its
    write job.  M3 (provider_products) needs M1's providers and M2's
    *merged rows* — not the durable product parquet — so M2's write and
    the whole of M3 run on two threads, sharing M2's persisted final
    frame as the Id↔DescriptionHash mapping."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target as inherit

    providers = merge_providers(wh, staged.provider_names)
    units = ensure_units_of_measure(wh, staged.units)
    plan = plan_product_merge(wh, staged.products, staged.product_buckets)
    # each thread runs with the caller's job group and local properties
    # (PySpark pins every Python thread to a JVM thread of its own), one
    # copy per wrapper: a thread's queries write to theirs while running
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_m2 = pool.submit(inherit(wh.spark)(commit_product_merge), wh, plan)
            f_m3 = pool.submit(
                inherit(wh.spark)(merge_provider_products),
                wh, staged.provider_products, plan.final,
            )
            products, provider_products = f_m2.result(), f_m3.result()
    finally:
        # release even when a merge fails: the persisted final/src
        # frames otherwise pin executor storage for the session's life,
        # and failed batches retry
        plan.release()
    return {
        "providers_inserted": providers,
        "units_created": units,
        "products": products,
        "provider_products": provider_products,
    }
