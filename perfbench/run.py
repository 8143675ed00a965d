"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_files --seed 1 --seconds 30 --trace 0

Runs one workload in a fresh child process (its own JVM and
SparkSession) whose working directory, ``TMPDIR`` and
``SPARK_LOCAL_DIRS`` are a per-run scratch directory under
``.perfbench_run/`` in the checkout; the directory is deleted when the
run ends, and every process the run started is stopped and waited for.
The child's last stdout line, one JSON result object, is re-printed as
this program's last stdout line.  With ``--trace 1`` the spans are also
written to ``.perfbench_out/<workload>-seed<N>.json``.

Exits non-zero without a result when the package under test is missing
or the run fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

T0 = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "aquiles_etl_pipeline_spark"
LIMIT_S = 170.0


def source_digest() -> str:
    """sha256 over the package's Python sources (the checkout has no git)."""
    h = hashlib.sha256()
    for f in sorted(PACKAGE.rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_head() -> str | None:
    """The commit ``.git/HEAD`` names, read without running git."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).is_file():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return None


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return f"{max(1024, min(4096, total // 4 >> 20))}m"


def stop_group(proc: subprocess.Popen) -> None:
    """SIGTERM, then SIGKILL, the child's process group (the child, its
    JVM and Python workers); reap the child and wait until the group is
    empty."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still stops its child group and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE.name} not found beside {HERE.name}/",
              file=sys.stderr)
        return 2

    scratch = ROOT / ".perfbench_run" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    (scratch / "local" / "jvm").mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=driver_memory(),
        TMPDIR=str(scratch / "tmp"),
        SPARK_LOCAL_DIRS=str(scratch / "local"),
        # the JVM writes no perf data, and its temp files (native libs,
        # artifact dirs) go with Spark's scratch, not into TMPDIR
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={scratch / 'local' / 'jvm'}",
        PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
    )
    env.pop("OMP_NUM_THREADS", None)
    spans_out = None
    if args.trace:
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        spans_out = out_dir / f"{args.workload}-seed{args.seed}.json"
    source = git_head() or f"src-sha256:{source_digest()}"
    cmd = [sys.executable, str(HERE / "workload.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--t0", repr(T0), "--source", source]
    if spans_out:
        cmd += ["--spans-out", str(spans_out)]

    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, LIMIT_S - (time.time() - T0)))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        out = None
    finally:
        stop_group(proc)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            scratch.parent.rmdir()
        except OSError:
            pass

    lines = (out or "").strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: workload exited with {proc.returncode}", file=sys.stderr)
        return 1
    json.loads(lines[-1])  # the result object must parse
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
