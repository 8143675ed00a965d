"""Generic Delta-style MERGE INTO executor over Warehouse tables.

The reference hard-codes its three MERGE procedures (upserts.py M1-M3,
cited there to /root/reference/core: the stored-proc bodies the Azure
pipeline invokes).  This module is the ENGINE-level generalization — the
``MERGE INTO target USING source ON keys WHEN MATCHED [AND cond] THEN
UPDATE/DELETE WHEN NOT MATCHED THEN INSERT`` statement every lakehouse
exposes — so a user can express any new upsert without writing another
bespoke merge function.

Execution shape (the one that scales):

* the source is the SMALL side by contract (a batch); it broadcasts
  into one left join against only the TOUCHED partitions of the target;
* matched rows apply delete-then-update clause order (the standard
  SQL MERGE clause precedence when both are present);
* unmatched source rows insert, aligned to the target schema;
* the rewrite is partition-scoped via Warehouse.replace_partitions —
  untouched partitions hardlink forward, cost O(touched), not O(table).

Clause expressions for ``update_set`` / ``update_condition`` /
``delete_condition`` reference TARGET columns by name and SOURCE columns
with the ``_src_`` prefix (e.g. ``F.col("_src_price")``) — the join
frame exposes both sides that way, mirroring Delta's ``t.``/``s.``
qualification without colliding column names.  ``insert_values`` is the
exception: insert expressions evaluate against the raw SOURCE frame
(no target row exists for an unmatched key), so they use BARE source
column names — ``F.col("price")``, not ``F.col("_src_price")``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .observed import observe
from .schemas import bucket_of
from .warehouse import Warehouse

SRC = "_src_"


def merge_into(
    wh: Warehouse,
    table: str,
    source: DataFrame,
    on: list[str] | str,
    update_set: dict[str, Column] | None = None,
    update_condition: Column | None = None,
    delete_condition: Column | None = None,
    insert: bool = True,
    insert_values: dict[str, Column] | None = None,
    bucket_col: str | None = None,
) -> dict[str, int]:
    """Execute a MERGE INTO ``table`` from ``source`` keyed on ``on``.

    * ``update_set``: target-col -> value for matched rows (default:
      every non-key source column that exists in the target takes the
      source value).  ``update_condition`` gates the update (default
      always).
    * ``delete_condition``: matched rows satisfying it are DELETED
      (checked before update, the SQL MERGE clause order).
    * ``insert``: unmatched source rows insert; ``insert_values``
      overrides per-column insert expressions (default: source value
      where the column exists, NULL otherwise; the bucket column is
      derived from the key).  Insert expressions evaluate against the
      raw source frame — use BARE source column names here, not the
      ``_src_`` prefix the matched-clause expressions use.
    * ``bucket_col``: when given, the target is partitioned by this
      hash-of-key column (:func:`.schemas.bucket_of`, the rule the
      built-in merges use) and the rewrite is partition-scoped;
      without it the merge rewrites the whole snapshot.

    Contract: the source must be UNIQUE on the key — a key matching
    two source rows makes UPDATE semantics ambiguous, so the merge
    REFUSES (the Delta ``MERGE`` multiple-match error) instead of
    picking one nondeterministically.  Returns counts
    {updated, deleted, inserted}, observed on the write job itself
    (``Observation`` metrics, no extra action; see merge.observed).
    """
    keys = [on] if isinstance(on, str) else list(on)
    target = wh.read(table)
    tgt_cols = target.columns
    src_cols = source.columns
    for k in keys:
        if k not in tgt_cols or k not in src_cols:
            raise ValueError(f"merge_into: key {k!r} missing from a side")
    # xxhash64 is TYPE-sensitive: the same key value hashes differently
    # as int vs bigint, so a source whose key dtype differs from the
    # target's would compute wrong touched buckets and silently
    # re-insert existing keys.  Align source key dtypes to the target's
    # before ANY bucket math or join.
    tgt_types = {f.name: f.dataType for f in target.schema.fields}
    src_types = {f.name: f.dataType for f in source.schema.fields}
    cast_needed = [k for k in keys if src_types[k] != tgt_types[k]]
    if cast_needed:
        # Under legacy (non-ANSI) mode an overflowing or malformed key
        # casts to NULL silently, turning a real key into an unmatched
        # NULL-keyed insert instead of an update.  Refuse instead: any
        # key that is non-NULL pre-cast must stay non-NULL post-cast.
        # try_cast, not cast: under the default ANSI mode a plain cast
        # THROWS inside this probe (raw SparkException) before the
        # curated error below could fire; try_cast yields NULL in both
        # modes, so the probe detects the corruption uniformly.  Only
        # runs when a key dtype actually differs (rare), and the
        # limit(1) probe stops at the first corrupt row.
        corrupt = None
        for k in cast_needed:
            p = F.col(k).isNotNull() & F.col(k).try_cast(tgt_types[k]).isNull()
            corrupt = p if corrupt is None else (corrupt | p)
        if not source.where(corrupt).limit(1).isEmpty():
            raise ValueError(
                f"merge_into: casting source key(s) {cast_needed} to the "
                f"target dtypes nulled a non-NULL key (overflow or "
                "malformed value) — fix the source key dtype instead of "
                "merging a corrupted key"
            )
    source = source.select(
        *[
            F.col(c).cast(tgt_types[c]).alias(c) if c in keys else F.col(c)
            for c in src_cols
        ]
    )

    dup_msg = (
        f"merge_into: source is not unique on {keys}; a multi-match "
        "merge is nondeterministic (the Delta MERGE error) — "
        "pre-aggregate the source to one row per key"
    )
    srcp = source.select(
        *[F.col(c).alias(c if c in keys else f"{SRC}{c}") for c in src_cols]
    ).withColumn(f"{SRC}__matched", F.lit(True))
    touched: list[int] = []
    if bucket_col is not None:
        # ONE pre-flight job answers both driver-side questions: the
        # touched bucket ids (needed to scope the rewrite) and whether
        # any key repeats (per-bucket max of per-key counts) — running
        # them as separate jobs doubled the fixed job overhead every
        # batch merge pays.
        per_bucket = (
            source.groupBy(*keys)
            .count()
            .groupBy(bucket_of(*keys).alias("_b"))
            .agg(F.max("count").alias("_mx"))
            .collect()
        )
        if any(r["_mx"] > 1 for r in per_bucket):
            raise ValueError(dup_msg)
        touched = [r["_b"] for r in per_bucket]
        base = target.where(F.col(bucket_col).isin(touched))
        # Runtime guard (not just a docstring contract): the touched-
        # bucket scoping is only correct when the TARGET's bucket_col
        # was populated with the same pmod(xxhash64(keys), N_BUCKETS)
        # rule — a target bucketed by any other expression would hide
        # matched rows outside `touched` from the join and silently
        # re-insert existing keys.  Two layers in ONE job: the exact
        # check over the touched base rows (O(touched buckets), the
        # same order as the merge itself), plus a bounded sample of the
        # WHOLE target — the rule is total, so ANY row violating it
        # proves a foreign bucketing, and the sample closes the hole
        # where a mis-bucketed target leaves the touched buckets empty
        # (nothing to check) while its real matches hide elsewhere.
        # eqNullSafe: a plain != evaluates to NULL (filtered out) for
        # rows whose bucket_col is NULL, letting a NULL-bucketed target
        # pass the guard while its rows hide from the touched-bucket
        # scoping — NULL buckets must count as mis-bucketed.  NULL rows
        # never reach `base` either (isin drops them), so they get
        # their own EXACT probe leg: an IS NULL limit(1) scan whose
        # predicate pushes to the parquet reader (row groups with zero
        # nulls skip on footer stats) — without it, NULL-bucketed rows
        # beyond the 256-row sample were invisible to the guard.
        bad = ~F.col(bucket_col).cast("int").eqNullSafe(bucket_of(*keys))
        mismatch = (
            base.select(bucket_col, *keys)
            .unionByName(target.select(bucket_col, *keys).limit(256))
            .where(bad)
            .unionByName(
                target.where(F.col(bucket_col).isNull())
                .select(bucket_col, *keys)
                .limit(1)
            )
            .limit(1)
        )
        if not mismatch.isEmpty():
            raise ValueError(
                f"merge_into: target {table!r} column {bucket_col!r} was "
                "not populated with pmod(xxhash64(keys), N_BUCKETS) over "
                f"{keys}; bucket-scoped merge would miss matched rows "
                "outside the touched buckets (duplicate-key corruption). "
                "Rebucket the target or merge without bucket_col."
            )
    else:
        if not source.groupBy(*keys).count().where(F.col("count") > 1).isEmpty():
            raise ValueError(dup_msg)
        base = target
    joined = base.join(F.broadcast(srcp), keys, "left")

    matched = F.coalesce(F.col(f"{SRC}__matched"), F.lit(False))
    do_delete = (
        matched & F.coalesce(delete_condition, F.lit(False))
        if delete_condition is not None
        else F.lit(False)
    )
    if update_set is None:
        update_set = {
            c: F.col(f"{SRC}{c}")
            for c in src_cols
            if c not in keys and c in tgt_cols
        }
    do_update = matched & (
        F.coalesce(update_condition, F.lit(False))
        if update_condition is not None
        else F.lit(True)
    )

    # Counts ride on the write job.  An Observation reports only to the
    # session of the frame it is attached to, and the source may belong
    # to another one (a foreachBatch micro-batch), so both sit on frames
    # of the target's session, the one the write runs in: the scoped
    # target rows here, every written row below.
    joined, scoped = observe(
        joined,
        F.count(F.lit(1)).alias("rows"),
        F.count_if(do_delete).alias("deleted"),
        F.count_if(do_update & ~do_delete).alias("updated"),
    )
    survivors = joined.where(~do_delete).select(
        *[
            (
                F.when(do_update, update_set[c]).otherwise(F.col(c)).alias(c)
                if c in update_set
                else F.col(c)
            )
            for c in tgt_cols
        ]
    )

    if insert:
        # NOT broadcast: the anti-join's right side is the TARGET key
        # set (large); the planner picks the strategy — at scale this
        # is a shuffled anti-join of the small source against only the
        # touched partitions
        ins_src = source.join(base.select(*keys), keys, "left_anti")
        insert_values = insert_values or {}
        proj = []
        for field in target.schema.fields:
            c = field.name
            if c in insert_values:
                proj.append(insert_values[c].cast(field.dataType).alias(c))
            elif c in src_cols:
                proj.append(F.col(c).cast(field.dataType).alias(c))
            elif bucket_col is not None and c == bucket_col:
                proj.append(bucket_of(*keys).alias(c))
            else:
                proj.append(F.lit(None).cast(field.dataType).alias(c))
        final = survivors.unionByName(ins_src.select(*proj))
    else:
        final = survivors
    final, written = observe(final, F.count(F.lit(1)).alias("rows"))

    if bucket_col is not None:
        wh.replace_partitions(table, final, bucket_col, touched)
    else:
        wh.overwrite(table, final)
    seen = scoped()
    return {
        "updated": seen["updated"],
        "deleted": seen["deleted"],
        "inserted": written()["rows"] - (seen["rows"] - seen["deleted"]),
    }
