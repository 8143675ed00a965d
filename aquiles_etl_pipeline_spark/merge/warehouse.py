"""Snapshot warehouse: the engine's table layer.

The reference persists to Azure SQL via SQLAlchemy + T-SQL MERGE procs
(/root/reference/core/database.py, core/etl_orchestrator.py:168-189).
Here tables are parquet directories managed with snapshot semantics:
readers always see a complete snapshot; writers replace the snapshot
atomically-enough for a single-writer pipeline (write new generation
dir, then flip a pointer file).

This is a deliberate seam: on a real cluster this class is swapped for
Delta/Iceberg tables (ACID MERGE INTO, time travel) without touching
the merge-job logic, which is pure DataFrame code.  Parquet snapshots
keep the container dependency-free (no delta-spark available here).

Layout on disk::

    <root>/_ROOT_SNAPSHOT.json   every table's current generation (snapshot())
    <root>/_TXN.json             a committed transaction, until its flips end
    <root>/<table>/_CURRENT      name of the current generation, g<N>
    <root>/<table>/_TABLE_EPOCH  id of this incarnation of the table
    <root>/<table>/g<N>/         one immutable generation:
        part-*.parquet           data files, under <col>=<value>/ when
                                 partitioned; written by this generation
                                 or hardlinked from the one before
        _GEN.json                the generation's record: schema,
                                 partition columns, empty flag and the
                                 writer's meta

Every write kind builds its generation in :meth:`_stage`, then moves
``_CURRENT`` with :meth:`_flip`.  The record is written last; reads
refuse a generation without one and never infer a schema from footers.

Scale posture: fact-table rewrite is the local-mode stand-in for Delta
MERGE's file-level rewrite; staging tables are written (partitioned by
BatchGuid) only for a batch whose merge failed.  An empty generation is
its record alone, not a Spark write job — bootstrapping a warehouse
launches zero jobs, and reading an empty table yields a local relation
(which Catalyst folds into trivially-broadcast join sides).  Small
unpartitioned tables are read and written on the driver with pyarrow
(:meth:`read_local`, :meth:`overwrite_local`) and never launch a Spark
job: the ProcessFile ledger, the seeded lookups (:meth:`seed_rows`),
and the dimensions the ingest merge extends before its fact writes —
provider (M1) and unit_of_measure (U1), read together with their
provider_synonym and unit_of_measure_acronym aliases.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from collections import Counter
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_RECORD = "_GEN.json"


class Warehouse:
    def __init__(
        self, spark: SparkSession, root: str | Path, keep_generations: int = 2
    ):
        """``keep_generations`` controls time-travel retention: how many
        snapshot generations (including the current one) survive a
        write.  2 = current + previous (the in-flight-reader minimum);
        larger values enable `read(name, version=)` further back, at
        the cost of retained hardlink trees (files shared across
        generations are linked, not copied, so retention costs only
        the *delta* files plus directory entries)."""
        self.spark = spark
        self.root = Path(root)
        self.keep_generations = max(2, keep_generations)
        # root-manifest publishes are read-modify-replace; the merge
        # chain flips DIFFERENT tables from concurrent threads (see
        # upserts.merge_staging_to_fact_tables), so serialize them
        self._root_lock = threading.Lock()
        self.root.mkdir(parents=True, exist_ok=True)
        # roll forward any transaction interrupted after its commit
        # point — attaching is when a restarted writer re-appears
        self._recover_txn()

    def _table_dir(self, name: str) -> Path:
        return self.root / name

    def _current(self, name: str) -> Path | None:
        ptr = self._table_dir(name) / "_CURRENT"
        if not ptr.exists():
            return None
        return self._table_dir(name) / ptr.read_text().strip()

    def exists(self, name: str) -> bool:
        return self._current(name) is not None

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or — time travel — a retained
        older generation by number (``version=``; see
        ``keep_generations`` and ``history()``).  The Delta/Iceberg
        `VERSION AS OF` analog: every write makes a new immutable
        generation, so an old version is just a different directory."""
        cur = self._current(name) if version is None else self._retained(name, version)
        if cur is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        return self._read_gen(cur)

    def _retained(self, name: str, version: int) -> Path:
        gen = self._table_dir(name) / f"g{version}"
        if not gen.exists():
            have = [g["version"] for g in self.history(name)]
            raise FileNotFoundError(
                f"table {name} has no retained generation g{version}"
                f" (retained: {have}; raise keep_generations to retain more)"
            )
        return gen

    def _read_gen(self, cur: Path) -> DataFrame:
        """Read one resolved generation directory (shared by pointer
        reads, version reads, and snapshot reads)."""
        rec = self._record(cur)
        schema = rec["schema"]
        if rec["empty"]:
            # Surface emptiness to Catalyst: range(1)+Filter(false) folds
            # to LocalRelation <empty> (PruneFilters), and then
            # PropagateEmptyRelation ELIMINATES every join against this
            # table from the plan.  createDataFrame([], schema) instead
            # yields an opaque LogicalRDD the optimizer can't see
            # through, so first-batch merges into a bootstrapped
            # warehouse paid broadcast-build + codegen for joins whose
            # result was statically empty.
            return (
                self.spark.range(1)
                .select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields])
                .where(F.lit(False))
            )
        # the recorded schema skips the footer-inference job a plain
        # read launches — merge batches do 3-4 reads each, and those
        # jobs dominated the merge profile
        return self.spark.read.schema(schema).parquet(str(cur))

    def _record(self, gen: Path) -> dict:
        """A generation's record (``_GEN.json``): ``schema`` (a
        StructType), ``partition_by``, ``empty`` and the writer's
        ``meta``.  A generation without one is refused, never read by
        footer inference."""
        try:
            rec = json.loads((gen / _RECORD).read_text())
        except FileNotFoundError:
            raise FileNotFoundError(
                f"table {gen.parent.name} generation {gen.name} has no {_RECORD}"
                " record; refusing to infer its schema from parquet footers"
            ) from None
        rec["schema"] = StructType.fromJson(rec["schema"])
        return rec

    def _new_gen(self, name: str) -> tuple[Path, list[int]]:
        tdir = self._table_dir(name)
        tdir.mkdir(parents=True, exist_ok=True)
        self._ensure_epoch(name)
        gens = [int(p.name[1:]) for p in tdir.glob("g*") if p.name[1:].isdigit()]
        return tdir / f"g{max(gens, default=-1) + 1}", gens

    def _ensure_epoch(self, name: str) -> str:
        """A per-table-INCARNATION id: created with the table directory,
        destroyed with drop().  Generation numbers restart at g0 after a
        drop+recreate, so a snapshot pinning (table, gN) alone would
        silently read the NEW table's gN; the manifest pins the epoch
        too and snapshot reads verify it."""
        marker = self._table_dir(name) / "_TABLE_EPOCH"
        if not marker.exists():
            marker.write_text(uuid.uuid4().hex)
        return marker.read_text().strip()

    def _write_pointer(self, name: str, gen_name: str) -> None:
        """Atomically move a table's _CURRENT pointer (tmp + rename).
        A plain write_text truncates first, so a concurrent
        _publish_root (different table, different thread) could read an
        empty/partial pointer mid-write and persist it into the root
        manifest."""
        ptr = self._table_dir(name) / "_CURRENT"
        tmp = self._table_dir(name) / (
            f"_CURRENT.tmp.{os.getpid()}.{threading.get_ident()}"
        )
        tmp.write_text(gen_name)
        os.replace(tmp, ptr)

    def _flip(
        self, name: str, gen: Path, old_gens: list[int], publish: bool = True
    ) -> None:
        # retention is computed relative to the PRE-flip current
        # generation, not the highest numbers: after rollback() the
        # pointer may sit on an old generation, and the one in-flight
        # readers hold is the pointer's target, which must always
        # survive the flip — the remaining keep budget then goes to the
        # newest other generations
        pre = self._current(name)
        pre_num = (
            int(pre.name[1:])
            if pre is not None and pre.name[1:].isdigit()
            else None
        )
        self._write_pointer(name, gen.name)
        keep: set[int] = set()
        if pre_num is not None:
            keep.add(pre_num)
        for g in sorted(old_gens, reverse=True):
            if len(keep) >= self.keep_generations - 1:
                break
            keep.add(g)
        for old in sorted(old_gens):
            if old not in keep:
                shutil.rmtree(self._table_dir(name) / f"g{old}", ignore_errors=True)
        if publish:
            self._publish_root()

    # -- root snapshot pointer (cross-table snapshot-isolation reads) ----

    def _root_manifest_path(self) -> Path:
        return self.root / "_ROOT_SNAPSHOT.json"

    def _publish_root(self) -> int:
        """Publish the root snapshot manifest: one atomically-replaced
        file naming every table's current generation.  Readers that
        want CROSS-TABLE snapshot isolation resolve tables through one
        manifest read (:meth:`snapshot`) instead of the per-table
        ``_CURRENT`` pointers — a multi-table :meth:`transaction`
        publishes the manifest once AFTER all its pointer flips, so a
        snapshot reader can never observe the microseconds-wide mixed
        state the per-table pointers go through.  The manifest is
        derived state (rebuilt from the pointers by the next publish),
        so it needs no fsync: losing it costs nothing but a stale
        version number.

        Thread-safe: the merge chain flips different tables from
        concurrent threads, so the read-modify-replace holds the
        instance lock AND the temp file is uniquely named (a shared
        tmp name let one thread's os.replace consume another's file —
        ENOENT under the q41 bench; cross-INSTANCE writers remain out
        of contract, like every other write here)."""
        with self._root_lock:
            tables = {}
            epochs = {}
            for tdir in sorted(self.root.iterdir()):
                ptr = tdir / "_CURRENT"
                if tdir.is_dir() and ptr.exists():
                    try:
                        gen_name = ptr.read_text().strip()
                    except FileNotFoundError:
                        # a concurrent drop() rmtree'd the table dir
                        # between exists() and read_text(); the table is
                        # going away — skip it rather than abort the
                        # whole manifest publish.
                        continue
                    if not gen_name:  # defense vs legacy non-atomic writers
                        continue
                    tables[tdir.name] = gen_name
                    epoch = tdir / "_TABLE_EPOCH"
                    if epoch.exists():
                        epochs[tdir.name] = epoch.read_text().strip()
            prev = 0
            path = self._root_manifest_path()
            if path.exists():
                try:
                    prev = int(json.loads(path.read_text()).get("version", 0))
                except (ValueError, json.JSONDecodeError):
                    prev = 0
            version = prev + 1
            tmp = self.root / (
                f"_ROOT_SNAPSHOT.json.tmp.{os.getpid()}.{threading.get_ident()}"
            )
            tmp.write_text(
                json.dumps(
                    {"version": version, "tables": tables, "epochs": epochs}
                )
            )
            os.replace(tmp, path)
            return version

    def snapshot(self) -> "WarehouseSnapshot":
        """A frozen, mutually-consistent view of EVERY table — the
        cross-table analog of ``read(version=)``.  Resolves all tables
        through ONE read of the root manifest, so two tables committed
        together by :meth:`transaction` are always seen together, even
        if another transaction's pointer flips race the reads.  The
        pinned generations stay readable under the same retention
        contract as time travel (``keep_generations`` later writes may
        retire them — a retired read raises FileNotFoundError)."""
        path = self._root_manifest_path()
        if path.exists():
            m = json.loads(path.read_text())
            return WarehouseSnapshot(
                self, int(m["version"]), dict(m["tables"]),
                dict(m.get("epochs", {})),
            )
        # pre-manifest warehouse: derive from the per-table pointers
        # (no concurrent-flip protection until the first publish)
        tables = {}
        for tdir in sorted(self.root.iterdir()):
            ptr = tdir / "_CURRENT"
            if tdir.is_dir() and ptr.exists():
                tables[tdir.name] = ptr.read_text().strip()
        return WarehouseSnapshot(self, 0, tables)

    def create_if_absent(self, name: str, schema: StructType) -> None:
        if not self.exists(name):
            gen, old = self._stage(name, None, schema=schema)
            self._flip(name, gen, old)

    def is_empty(self, name: str) -> bool:
        """Driver-side emptiness probe (no Spark job): the table is
        absent or its current generation's record says it holds no row.
        Lets merges skip their touched-partition pre-flight on the
        bootstrap batch, where there is nothing to scope or carry."""
        cur = self._current(name)
        return cur is None or self._record(cur)["empty"]

    def seed_rows(self, name: str, schema: StructType, rows: list[tuple]) -> None:
        """Seed a tiny lookup table with a driver-side write
        (:meth:`overwrite_local`) — no Spark job, preserving the
        zero-job bootstrap contract.  No-op if the table already holds
        data."""
        if not self.is_empty(name):
            return
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        self.overwrite_local(
            name,
            pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
            ),
        )

    def read_local(self, name: str, filter=None) -> "pa.Table":
        """Read the current snapshot of a small unpartitioned table into
        the driver as a pyarrow table — no Spark job.  ``filter`` is a
        ``pyarrow.compute`` expression applied while reading.  Columns
        are cast to the table's recorded Spark schema, so a generation
        Spark wrote (INT96 timestamps) reads back as the same UTC
        instants a pyarrow-written one holds."""
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        cur = self._current(name)
        if cur is None:
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        rec = self._record(cur)
        schema = to_arrow_schema(rec["schema"])
        if rec["empty"]:
            return schema.empty_table()
        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        files = sorted(str(f) for f in cur.glob("part-*"))
        table = ds.dataset(files, format=fmt).to_table(filter=filter)
        return table.select(schema.names).cast(schema)

    def overwrite_local(self, name: str, table: "pa.Table") -> None:
        """Driver-side counterpart of :meth:`overwrite` for small
        unpartitioned tables (lookups, the ProcessFile ledger): one
        parquet file per generation, then the pointer flip.  No Spark
        job; Spark reads the result like any other generation."""
        gen, old = self._stage(name, table)
        self._flip(name, gen, old)

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> None:
        """Write a new snapshot generation and flip the pointer.

        ``meta``: writer-supplied metadata persisted INSIDE the new
        generation before the flip, so it commits atomically with the
        table state (read back via :meth:`write_meta`).  This is how
        streaming continuous aggregates make at-least-once foreachBatch
        redelivery idempotent: the applied batch_id travels with the
        rollup snapshot itself."""
        gen, old = self._stage(name, df, partition_by, meta)
        self._flip(name, gen, old)

    def _stage(
        self,
        name: str,
        df: "DataFrame | pa.Table | Callable[[Path], None] | None",
        partition_by: list[str] | None = None,
        meta: dict | None = None,
        *,
        schema: StructType | None = None,
        carry: Callable[[Path], bool] | None = None,
    ) -> tuple[Path, list[int]]:
        """Write a fully-formed new generation WITHOUT flipping the
        pointer: the staging half of every write.  ``df`` holds the new
        rows: a Spark frame, a pyarrow table (written on the driver), a
        function writing data files into the generation directory, or
        None; the last two take ``schema``.  ``carry(rel_path)`` picks
        the current generation's data files to hardlink forward (names
        are UUID-unique, so partition directories merge cleanly).  A
        generation holding no row is demoted to its record alone, which
        is written last."""
        import pyarrow.parquet as pq

        gen, old = self._new_gen(name)
        if isinstance(df, DataFrame):
            schema = df.schema
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(str(gen))
        else:
            gen.mkdir()
            if callable(df):
                df(gen)
            elif df is not None:
                from pyspark.sql.pandas.types import from_arrow_schema

                schema = from_arrow_schema(df.schema)
                # no dictionary pages: control-table keys are near-unique,
                # so dictionary encoding only costs time and bytes (half
                # the write time of a 100k-row ledger)
                pq.write_table(df, gen / "part-00000-local.parquet", use_dictionary=False)
        # a Spark write's _SUCCESS markers go: the record is the commit
        # marker, and generations hold the same files however written
        for marker in (*gen.rglob("_SUCCESS"), *gen.rglob("._SUCCESS.crc")):
            marker.unlink()
        cur = self._current(name)
        if carry is not None and cur is not None:
            for f in cur.rglob("part-*"):
                rel = f.relative_to(cur)
                if carry(rel):
                    (gen / rel).parent.mkdir(parents=True, exist_ok=True)
                    os.link(f, gen / rel)
                    # a Spark-written file's Hadoop checksum goes with
                    # it: the read verifies each chunk against it
                    crc = f.with_name(f".{f.name}.crc")
                    if crc.exists():
                        os.link(crc, gen / rel.with_name(crc.name))
        # rows counted from parquet footers, not with a Spark job: an
        # empty frame leaves no data file when partitioned and one
        # footer-only file when not
        empty = not any(pq.read_metadata(f).num_rows for f in gen.rglob("part-*"))
        if empty:
            shutil.rmtree(gen)
            gen.mkdir()
        record = {
            "schema": schema.jsonValue(),
            "partition_by": list(partition_by or []),
            "empty": empty,
            "meta": meta,
        }
        (gen / _RECORD).write_text(json.dumps(record, separators=(",", ":")))
        return gen, old

    # -- atomic multi-table transactions ---------------------------------

    def _txn_path(self) -> Path:
        return self.root / "_TXN.json"

    def transaction(
        self,
        writes: dict[str, DataFrame | tuple[DataFrame, list[str] | None]],
    ) -> None:
        """Commit new snapshots of SEVERAL tables as one transaction —
        the cross-table atomicity the per-table ``_CURRENT`` flip can't
        give (fact + its rollup, dim + its index must move together).

        Protocol (single-writer, like every write here):

        1. STAGE every table's new generation fully (no pointer moves);
        2. write the transaction manifest via temp-file + atomic
           ``os.replace`` — this rename is the COMMIT POINT: before it,
           a crash aborts cleanly (staged orphans, tables unchanged);
           after it, the transaction is durable;
        3. flip each table's pointer; 4. remove the manifest.

        A crash between 3 and 4 leaves the manifest behind; the next
        ``Warehouse`` attach rolls the transaction FORWARD
        (:meth:`_recover_txn`), flipping whatever pointers remain — so
        observers never see a committed transaction half-applied
        across a restart.  During the microseconds of step 3 itself a
        reader following the PER-TABLE pointers could see mixed
        tables; readers that need cross-table snapshot isolation use
        :meth:`snapshot` instead — the root manifest it resolves
        through moves once, after every flip (step 3.5), so snapshot
        readers see the transaction all-old or all-new.
        """
        staged: dict[str, tuple[str, list[int]]] = {}
        for name, spec in writes.items():
            df, partition_by = spec if isinstance(spec, tuple) else (spec, None)
            gen, old = self._stage(name, df, partition_by)
            staged[name] = (gen.name, old)
        tmp = self.root / "_TXN.json.tmp"
        # Durability, not just process-crash atomicity: fsync the
        # manifest CONTENTS before the rename and the root DIRECTORY
        # after it, so the commit point cannot reach disk ahead of the
        # bytes it points at on an OS crash / power loss.  (Staged
        # parquet data's durability is the filesystem's ordinary
        # write-back — the manifest fsync ensures we never replay a
        # manifest whose own contents were lost.)
        # buffered write + flush guards against short os.write returns
        # (a truncated manifest fsynced past the rename would become a
        # corrupt commit record)
        with open(tmp, "wb") as f:
            f.write(
                json.dumps(
                    {n: {"gen": g, "old": o} for n, (g, o) in staged.items()}
                ).encode()
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._txn_path())  # COMMIT POINT (atomic rename)
        dfd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dfd)  # persist the rename itself
        finally:
            os.close(dfd)
        for name, (gen_name, old) in staged.items():
            # publish=False: the root manifest must move ONCE, after
            # every pointer has flipped, so snapshot() readers see the
            # transaction's tables all-old or all-new, never mixed
            self._flip(name, self._table_dir(name) / gen_name, old, publish=False)
        self._publish_root()
        self._txn_path().unlink(missing_ok=True)

    def _recover_txn(self) -> list[str]:
        """Roll forward a transaction interrupted between its commit
        point and its last pointer flip; returns the repaired tables.
        An aborted transaction (crash BEFORE the manifest rename)
        leaves no manifest — staged orphan generations are simply
        never pointed at and fall to retention."""
        path = self._txn_path()
        if not path.exists():
            return []
        try:
            manifest = json.loads(path.read_text())
        except (ValueError, json.JSONDecodeError):
            # an unparsable manifest cannot be a commit record — treat
            # as an abort: staged orphans stay unpointed, old pointers
            # are intact, and removing the debris unbricks the attach
            path.unlink(missing_ok=True)
            return []
        repaired = []
        for name, entry in manifest.items():
            gen = self._table_dir(name) / entry["gen"]
            cur = self._current(name)
            if cur is None or cur.name != entry["gen"]:
                if gen.exists():  # staged fully before the commit point
                    self._flip(name, gen, list(entry["old"]), publish=False)
                    repaired.append(name)
        # publish even when every pointer had already flipped: the crash
        # may have come between the last flip and the publish, and the
        # root manifest would then keep naming the pre-transaction
        # generations
        self._publish_root()
        path.unlink(missing_ok=True)
        return repaired

    def write_meta(self, name: str) -> dict | None:
        """Metadata recorded with the current generation's write (see
        ``overwrite(meta=)``), or None."""
        cur = self._current(name)
        return None if cur is None else self._record(cur)["meta"]

    def _can_carry(self, name: str, df: DataFrame, partition_by: list[str]) -> bool:
        """Whether the current generation's files may be hardlinked under
        ``df``'s schema and ``partition_by``: the table is absent or
        empty, or matches by column names AND types and by partition
        columns.  A record holds one schema for all its files, so files
        carried under another type would be silently cast or nulled."""
        cur = self._current(name)
        if cur is None:
            return True
        rec = self._record(cur)
        have = {f.name: f.dataType for f in rec["schema"].fields}
        want = {f.name: f.dataType for f in df.schema.fields}
        return rec["empty"] or (have == want and rec["partition_by"] == partition_by)

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """True file-level append: write ONLY the new rows as parquet,
        hardlink the previous generation's data files into the new one.

        This is the local stand-in for a Delta transaction-log append:
        cost is O(new data), never O(table history) — the difference
        between a staging table that scales and one that rewrites its
        whole past on every batch.  Falls back to union+rewrite when
        :meth:`_can_carry` refuses (schema or layout diverges) —
        hardlinking mixed-type or mixed-layout files into one generation
        would corrupt the snapshot."""
        if not self._can_carry(name, df, list(partition_by or [])):
            # df on the left: the rewrite then runs in df's session,
            # where Observations on df (staging's row counts) report
            self.overwrite(
                name,
                df.unionByName(self.read(name), allowMissingColumns=True),
                partition_by=partition_by,
            )
            return
        gen, old = self._stage(name, df, partition_by, carry=lambda rel: True)
        self._flip(name, gen, old)

    def replace_partitions(
        self, name: str, df: DataFrame, partition_col: str, values: list
    ) -> None:
        """Delta-MERGE-style partition-scoped rewrite: write ``df`` (which
        must contain only rows whose ``partition_col`` is in ``values``)
        as the new content of exactly those partitions, and hardlink
        every OTHER partition's files from the current snapshot.  Cost is
        O(touched partitions), not O(table) — the difference between a
        fact-table merge that scales and one that rewrites its whole
        history every batch.  No Spark job touches the untouched
        partitions; their files move by hardlink only.  Schema or layout
        divergence (:meth:`_can_carry`) falls back to a full rewrite
        through unionByName, which surfaces incompatibilities loudly."""
        if not self._can_carry(name, df, [partition_col]):
            untouched = self.read(name).where(~F.col(partition_col).isin(values))
            self.overwrite(name, df.unionByName(untouched), partition_by=[partition_col])
            return
        prefix = f"{partition_col}="
        skip = {f"{prefix}{v}" for v in values}
        gen, old = self._stage(
            name,
            df,
            [partition_col],
            carry=lambda rel: rel.parts[0].startswith(prefix) and rel.parts[0] not in skip,
        )
        self._flip(name, gen, old)

    def compact(
        self,
        name: str,
        max_files: int = 8,
        target_files: int = 1,
        sort_by: list[str] | None = None,
    ) -> dict[str, int]:
        """OPTIMIZE-style small-file compaction: rewrite every partition
        holding more than ``max_files`` data files down to
        ``target_files``, hardlinking untouched partitions forward.
        Appending micro-batches (streaming ingest, per-file staging
        loads) accumulates files; scan cost and task-scheduling overhead
        grow with file count, not data size — the lakehouse housekeeping
        Delta's OPTIMIZE / Iceberg's rewrite_data_files owns on a real
        cluster.  Cost is O(compacted partitions); returns
        {partition_path_or_'.': files_before} for the rewritten ones.

        ``sort_by`` additionally CLUSTERS the rewrite (Delta's
        ``OPTIMIZE ... ZORDER BY``'s single-column analog): rows are
        range-partitioned and sorted on the given columns, so each
        output file covers a disjoint key range and parquet min/max
        footer stats let point/range scans skip whole files.  With
        ``sort_by``, data is row-identical (order changes); without,
        byte-identical.  Snapshot semantics make either safe next to
        readers.
        """
        cur = self._current(name)
        if cur is None:
            return {}
        rec = self._record(cur)
        # data files per (possibly nested) partition dir, relative to cur
        groups = Counter(f.parent.relative_to(cur) for f in cur.rglob("part-*"))
        todo = {d: n for d, n in groups.items() if n > max_files}
        if not todo:
            return {}
        # partition columns live in dir names, not in the files
        spec = rec["partition_by"]
        data_schema = StructType([f for f in rec["schema"].fields if f.name not in spec])

        def rewrite(gen: Path) -> None:
            for rel in todo:
                df = self.spark.read.schema(data_schema).parquet(str(cur / rel))
                if sort_by:
                    df = df.repartitionByRange(
                        target_files, *[F.col(c) for c in sort_by]
                    ).sortWithinPartitions(*sort_by)
                else:
                    df = df.coalesce(target_files)
                df.write.mode("overwrite").parquet(str(gen / rel))

        gen, old = self._stage(
            name, rewrite, spec, rec["meta"], schema=rec["schema"],
            carry=lambda rel: rel.parent not in todo,
        )
        self._flip(name, gen, old)
        return {str(rel): n for rel, n in todo.items()}

    def history(self, name: str) -> list[dict]:
        """Snapshot log (Delta DESCRIBE HISTORY analog): one entry per
        retained generation, oldest first — version, currentness,
        emptiness, data-file count, total bytes (hardlinked files
        counted at full size per generation), partition spec.  Pure
        driver-side filesystem walk; no Spark job.  A directory without
        a record is not listed."""
        tdir = self._table_dir(name)
        if not tdir.exists():
            raise FileNotFoundError(f"table {name} does not exist in {self.root}")
        cur = self._current(name)
        out = []
        for gen in sorted(
            (p for p in tdir.glob("g*") if p.name[1:].isdigit()),
            key=lambda p: int(p.name[1:]),
        ):
            try:
                rec = self._record(gen)
            except FileNotFoundError:
                continue  # a write that did not finish (vacuum() removes it)
            files = list(gen.rglob("part-*"))
            out.append(
                {
                    "version": int(gen.name[1:]),
                    "is_current": gen == cur,
                    "is_empty": rec["empty"],
                    "n_files": len(files),
                    "bytes": sum(f.stat().st_size for f in files),
                    "partition_by": rec["partition_by"],
                }
            )
        return out

    def rollback(self, name: str, version: int) -> None:
        """Point _CURRENT back at a retained older generation (Delta
        RESTORE analog).  Metadata-only: no data moves; newer
        generations stay on disk until a later write's retention pass
        retires them."""
        self._write_pointer(name, self._retained(name, version).name)
        self._publish_root()

    def vacuum(self, name: str) -> list[int]:
        """Remove generation debris a crash can leave behind (Delta
        VACUUM analog): any generation NEWER than the current pointer
        (a write that died between data write and pointer flip) is
        unreachable garbage — readers can never see it, and its data
        files hold disk.  Older-than-retention cleanup happens on every
        flip; this handles the crash-orphan case on demand.  Returns
        the removed generation numbers.

        Writes are crash-safe by construction: the pointer flip is the
        commit point, so a died write leaves the previous snapshot
        intact and fully readable — vacuum is housekeeping, not
        recovery.

        Single-writer assumption (the whole warehouse is single-writer,
        like the reference's one-pipeline SQL database): vacuum must
        not race an in-flight writer — a not-yet-flipped generation
        being written RIGHT NOW is indistinguishable from crash debris.
        Run it from the writer's own control loop, never concurrently
        with a write."""
        cur = self._current(name)
        if cur is None:
            return []
        cur_no = int(cur.name[1:])
        removed = []
        for gen in self._table_dir(name).glob("g*"):
            if gen.name[1:].isdigit() and int(gen.name[1:]) > cur_no:
                shutil.rmtree(gen, ignore_errors=True)
                removed.append(int(gen.name[1:]))
        return sorted(removed)

    def drop(self, name: str) -> None:
        shutil.rmtree(self._table_dir(name), ignore_errors=True)
        self._publish_root()


class WarehouseSnapshot:
    """A frozen cross-table view produced by :meth:`Warehouse.snapshot`:
    every table pinned to the generation the root manifest named at one
    instant.  Immutable by construction — generations never mutate, so
    every ``read`` from one snapshot is mutually consistent no matter
    how many commits happen in between (subject to the warehouse's
    retention window, exactly like ``read(version=)``)."""

    def __init__(
        self,
        wh: Warehouse,
        version: int,
        tables: dict[str, str],
        epochs: dict[str, str] | None = None,
    ):
        self.version = version
        self.tables = dict(tables)
        self.epochs = dict(epochs or {})
        self._wh = wh

    def read(self, name: str) -> DataFrame:
        gen_name = self.tables.get(name)
        if gen_name is None:
            raise FileNotFoundError(
                f"table {name} was not in root snapshot v{self.version}"
            )
        pinned_epoch = self.epochs.get(name)
        if pinned_epoch is not None:
            marker = self._wh._table_dir(name) / "_TABLE_EPOCH"
            live = marker.read_text().strip() if marker.exists() else None
            if live != pinned_epoch:
                # generation numbers restart at g0 after drop+recreate,
                # so without this check a same-named gN of the NEW
                # incarnation would silently satisfy the pin
                raise FileNotFoundError(
                    f"snapshot v{self.version} pinned {name}@{gen_name} of a "
                    "table incarnation that has since been dropped and "
                    "re-created; the pinned data no longer exists"
                )
        gen = self._wh._table_dir(name) / gen_name
        if not gen.exists():
            raise FileNotFoundError(
                f"snapshot v{self.version} pinned {name}@{gen_name}, which "
                "retention has since retired (raise keep_generations to "
                "hold snapshots across more writes)"
            )
        return self._wh._read_gen(gen)
