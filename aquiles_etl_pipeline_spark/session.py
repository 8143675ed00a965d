"""SparkSession factory for the engine.

Replaces the reference's connection bootstrap
(``/root/reference/core/database.py:12-50`` — ODBC engine factory + retry
probe): Spark owns connections/retries, so the only bootstrap we need is a
well-configured session. Tuned for local[N] testing but every setting is
cluster-sane (AQE, broadcast threshold, shuffle partitions sized to cores).
Every session, launched here or not, is readied once by
:func:`prepare_session`.  This module is the only code that decides
``spark.sql.shuffle.partitions`` (see get_spark for the precedence order).
"""

from __future__ import annotations

import logging
import math
import os
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)


def session_key(spark: SparkSession) -> str:
    """Stable identity for per-session memoization: the underlying
    SparkContext's applicationId.  ``id(spark)`` is unsafe as a cache
    key — CPython reuses a garbage-collected session's address, which
    would alias a FRESH session to a dead one's cache entries (a
    :func:`prepare_session` skip on a session whose workers still need
    the package zip, a table-cache hit on a catalog that never saw the
    table).  The applicationId lives exactly as long as the JVM context
    owning all the cached state, and sessions sharing a context share
    that state (Python workers, addPyFile, saveAsTable catalog), so
    sharing the cache entry is correct."""
    return spark.sparkContext.applicationId


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Temporarily override session confs, restoring on exit.

    Used by :func:`stream_batch_confs` to size a stream drain to its
    input.  Not thread-safe across concurrently *planned* queries on
    the same session — callers are the sequential catalog / bench
    paths.
    """
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# input bytes per shuffle partition wherever the count is input-sized
PARTITION_BYTES = 64 << 20


def _pinned_at_launch(spark: SparkSession) -> bool:
    """Whether the caller fixed ``spark.sql.shuffle.partitions`` at
    launch (builder, spark-submit); runtime ``conf.set`` calls never
    show up in the launch conf."""
    return spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions")


def _input_sized_partitions(spark: SparkSession, paths, floor: int) -> int | None:
    """ceil(bytes under ``paths`` / PARTITION_BYTES) clamped to [floor,
    4x defaultParallelism] (past 4x cores, raise per-partition
    throughput, not partition count).  ``None`` when the size is
    unknown: no bytes (a remote URI, a missing or empty path) or an
    unreadable file (logged)."""
    nbytes = 0
    for p in paths:
        path = Path(str(p))
        try:
            if path.is_dir():
                nbytes += sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
            elif path.is_file():
                nbytes += path.stat().st_size
        except OSError as exc:
            _log.warning("shuffle partitions not input-sized: cannot size %s (%s)", p, exc)
            return None
    if nbytes == 0:
        return None
    par = spark.sparkContext.defaultParallelism
    return min(max(floor, math.ceil(nbytes / PARTITION_BYTES)), 4 * par)


def stream_batch_confs(
    spark: SparkSession,
    *input_paths,
    python_state: bool = False,
    no_data_batches: bool = True,
):
    """Conf scope for a micro-batch stream drain: size shuffle/state
    partitions to the LANDED INPUT, not to the core count.

    Structured Streaming fixes its state-store partition count to
    ``spark.sql.shuffle.partitions`` at first checkpoint commit and
    never coalesces it (no AQE inside streaming plans), so the session
    default — sized to cores for the batch catalog — hands every
    file-sized drain 32 state partitions: 32 state-store commits, 32
    sink files and 32 near-empty tasks per micro-batch of a few MB.
    Measured on the stateful-drain floor harness (r10): 32 partitions
    ≈ 1.4–1.9 s per drain, input-sized ≈ 0.9–1.0 s, identical results
    (all stateful operators here are key-partitioned; partition count
    never changes their output).

    The partition count derives from the bytes sitting in the source
    directories (:func:`_input_sized_partitions`, floor 1; the floor
    too when their size is unknown), so the same code on a 100 TB
    backlog sizes UP automatically — the guide's "derive partitioning
    from input size" rule applied to streams.  AQE is additionally disabled
    inside the scope for the foreachBatch BATCH jobs (rollup merges,
    sink writes): on file-sized batches its per-stage re-planning is
    pure scheduler overhead (each shuffle becomes its own AQE job; the
    file-sized merge chain once measured 34 -> 22 jobs with AQE off).

    Precedence: inside the scope this count wins over the session's
    (launch-fixed, tuned or cores default), which comes back on exit.

    NOTE on restarts: the FIRST drain against a fresh checkpoint bakes
    the state partition count into the checkpoint; later drains reuse
    it regardless of this scope (Spark reads it back from offsets
    metadata), so growing input across drains never forks state layout.

    ``no_data_batches=False`` — disables
    ``spark.sql.streaming.noDataMicroBatches.enabled`` for the drain.
    Spark appends an extra empty "eager state management" micro-batch
    to a drain whenever the watermark advanced; profiled at r11
    (tools/profile_drain.py) that batch costs 0.3–2.8 s of pure
    machinery per drain while its only effect — evicting/emitting
    state the advanced watermark has passed — either does not apply
    (nothing expires under the fixture's long delays: q144/q154/q195)
    or happens identically in the NEXT batch against the restored
    watermark (update-mode eviction q127, append-mode session/window
    eviction in a later restart q165/q313/q241: emitted set is a pure
    function of the watermark sequence, which this flag does not
    change).  Drains whose FINAL flush is performed by the trailing
    no-data batch (single-sentinel queries: the sentinel's own batch
    only advances the watermark; the flush needs one more batch) must
    keep the default ``True`` for that last drain — the two-sentinel
    queries (q195/q241) flush in the second sentinel's data batch, so
    they can turn it off everywhere.

    ``python_state=True`` — for drains whose stateful operator is
    ``applyInPandasWithState``: the cost there is NOT state-store
    commits but per-GROUP Python/pandas invocations (one function call
    + Arrow round-trip per key per micro-batch), which parallelize
    across cores and do not shrink with input bytes.  Measured (r10,
    sf0.1, fresh session each): q241's sessionizer at input-sized n=1
    takes 48.7 s vs 19.0 s at n=8+ — the single Python worker is the
    bottleneck, not the 32 state commits.  So these drains floor the
    partition count at ``defaultParallelism`` (the actual cores of
    whatever cluster is running — not a local constant), keeping every
    Python worker busy; the input-derived count still takes over as
    soon as the backlog outgrows cores * PARTITION_BYTES.
    """
    floor = spark.sparkContext.defaultParallelism if python_state else 1
    n = _input_sized_partitions(spark, input_paths, floor) or floor
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(n),
    }
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    return scoped_confs(spark, confs)


# session key -> the dataset dir whose shuffle count is in force
_TUNED_DIR: dict[str, str] = {}


def tune_batch_shuffle_partitions(spark: SparkSession, data_dir: str) -> None:
    """Size the session's ``spark.sql.shuffle.partitions`` to the BYTES
    of the dataset directory actually being queried — the batch-catalog
    twin of :func:`stream_batch_confs` (r11, guide §2 "derive
    partitioning from input size rather than a constant tuned for
    either local mode or the cluster").

    Why: AQE's coalescing only merges partitions DOWNWARD from the
    configured count, and every extra partition on a KB-scale shuffle
    is a scheduled task plus an AQE stage decision; with 395 catalog
    queries the sub-second tail paid ~0.1 s each for 32-way shuffles
    of a few MB.  Measured (r11, 12-query tail sample, min of 3 warm
    reps): cores-sized 6.29 s vs input-sized 5.20 s (−17%).

    The count is :func:`_input_sized_partitions` with a floor of
    max(1, cores/8).  The FLOOR exists because a reduce stage can be
    compute-bound at tiny shuffle bytes — pair-enumeration joins
    (q88/q201/q328/q352/q356) measured ~2x slower at n=1 (the whole
    pair explosion runs on one task) while n>=cores/8 kept them at
    their cores-sized times.  On a 100 TB dataset the byte term
    saturates the cap, i.e. a real cluster keeps full parallelism; only
    file-sized inputs shrink.

    Precedence, highest first: a count fixed at launch (then this
    never touches the conf, so plan shapes follow the caller's count,
    not the machine's cores); else this input-derived count; else, for
    a dir of unknown size, the count in force (the cores default).

    Applied when a session switches datasets: queries against the dir
    it last tuned for leave the conf alone (so a scope such as
    :func:`stream_batch_confs` keeps its own count), and a session that
    goes A→B→A gets A's count back.  Partitioning never changes query
    RESULTS (every operator here is key- or order-insensitive to
    partition count), only scheduling.
    """
    key, data_dir = session_key(spark), str(data_dir)
    if _TUNED_DIR.get(key) == data_dir:
        return
    _TUNED_DIR[key] = data_dir
    if _pinned_at_launch(spark):
        return
    par = spark.sparkContext.defaultParallelism
    n = _input_sized_partitions(spark, [data_dir], floor=max(1, par // 8))
    if n is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))


# Parquet read confs of every session.  INT64 TIMESTAMP(NANOS) reads as
# raw longs, not an error (catalog.load converts `events`).  Naive
# timestamps read as TIMESTAMP, not TIMESTAMP_NTZ: event-time watermarks
# and unix_micros() reject NTZ, and under UTC both carry the same
# wall-clock values (matching DuckDB's naive rendering).  Launch confs of
# get_spark, so its sessions' siblings (``newSession()``) start with them
# too; prepare_session sets them on every session, foreign ones included.
_PARQUET_READ_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

# the directory holding this package: on a worker's PYTHONPATH, it
# imports the package from the source tree
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else half of physical memory, between 1g
    and 32g.  In local mode the driver heap is the whole executor heap:
    8g starved 32 cores (2x wall time in GC over a bench sweep), and more
    than the box has gets the JVM OOM-killed."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    default = f"{max(1024, min(32 << 10, total // 2 >> 20))}m"
    return os.environ.get("SPARK_DRIVER_MEMORY") or default


def get_spark(
    app_name: str = "aquiles-etl-pipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults, readied by
    :func:`prepare_session`.

    Scale posture: AQE on (runtime coalesce + skew-join splitting),
    shuffle partitions sized to the parallelism actually available
    locally — on a real cluster leave ``spark.sql.shuffle.partitions``
    to AQE's coalescing instead of the 200 default.

    Shuffle-partition precedence, highest first: a count in
    ``extra_conf`` (fixed: the tuner leaves it alone); else
    :func:`tune_batch_shuffle_partitions`' input-derived count; else
    the cores default, set here only when the launch fixed none.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or f"local[{cpus}]"

    # Python workers of a local session run with the JVM's PYTHONPATH:
    # exported BEFORE the JVM launches, the package's parent lets them
    # import this package from its source tree (see prepare_session)
    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # iterative algorithms (connected components) reliable-checkpoint
        # path: let the ContextCleaner delete checkpoint files once their
        # RDD is collected, so long sessions don't accumulate them
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_PARQUET_READ_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if not _pinned_at_launch(spark):
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    prepare_session(spark)
    return spark


# session keys prepare_session has readied
_PREPARED: set[str] = set()


def prepare_session(spark: SparkSession) -> None:
    """Ready a session for the engine, once per session (session_key):
    ours or foreign (the correctness driver's, a notebook's).

    Sets the parquet read confs (``_PARQUET_READ_CONFS``), and ships the
    package to the session's Python workers only when they cannot
    import it from the source tree (:func:`_workers_import_package`)."""
    key = session_key(spark)
    if key in _PREPARED:
        return
    _PREPARED.add(key)
    for k, v in _PARQUET_READ_CONFS.items():
        spark.conf.set(k, v)
    if not _workers_import_package(spark):
        ship_package_to_workers(spark)


def _workers_import_package(spark: SparkSession) -> bool:
    """Whether the session's Python workers import this package without
    a shipped copy.  Local-mode workers get the driver JVM's PYTHONPATH
    (Spark's PythonWorkerFactory passes it on), which carries the
    package's parent when get_spark launched the JVM.  A cluster's
    workers run on other hosts, so there the answer is no."""
    sc = spark.sparkContext
    if not sc.master.startswith("local"):
        return False
    jvm_path = sc._jvm.System.getenv("PYTHONPATH") or ""
    return _PKG_PARENT in jvm_path.split(os.pathsep)


def ship_package_to_workers(spark: SparkSession) -> None:
    """Make this package importable by the Python workers of a session
    whose workers lack it (see prepare_session).

    Package functions inside mapInPandas / pandas_udf closures reach
    workers by module reference (cloudpickle pickles importable
    functions by name), so workers of a session launched from any cwd
    fail ``import aquiles_etl_pipeline_spark`` without it.  Shipping a
    zip of the package via ``addPyFile`` is the standard mid-session
    fix: workers put it on their sys.path.  Cheap (~100 KB zip, built
    once per process and deleted when it exits); a failure is logged,
    never raised."""
    import atexit
    import tempfile
    import zipfile

    global _PKG_ZIP
    try:
        if _PKG_ZIP is None:
            fd, zpath = tempfile.mkstemp(prefix="aquiles_pkg_", suffix=".zip")
            os.close(fd)
            with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
                for root, _dirs, files in os.walk(os.path.dirname(os.path.abspath(__file__))):
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(root, fn)
                            zf.write(full, os.path.relpath(full, _PKG_PARENT))
            _PKG_ZIP = zpath
            atexit.register(_remove_package_zip)
        spark.sparkContext.addPyFile(_PKG_ZIP)
    except Exception as exc:  # never let shipping break a real session
        _log.warning("package not shipped to Python workers: %s: %s", type(exc).__name__, exc)


_PKG_ZIP: str | None = None


def _remove_package_zip() -> None:
    """At exit: stop the context whose workers fetch the shipped zip,
    then delete the zip."""
    global _PKG_ZIP
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        Path(_PKG_ZIP).unlink(missing_ok=True)
        _PKG_ZIP = None
