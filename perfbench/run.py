"""Benchmark entry point for h3ron_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (query-fleet or stream-track) in a fresh
child process with a fresh Spark session, samples the RSS of the
child's whole process tree (driver JVM and Python workers included),
and prints two lines: the run record (host stamp, every end-to-end and
layer figure, per-operation times, check failures) and, last, the
result object with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) named in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CHILD_TIMEOUT_S = 170
RSS_SAMPLE_S = 0.1
DRIVER_MEMORY = "3g"


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 3 and 6 of stat: state and session id; a zombie holds no memory
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / 2**20


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM, the Python workers) are re-parented
    to this process, so it can wait for every one of them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's session and wait until every
    descendant has ended."""
    for pid in [proc.pid, *_session_pids(proc.pid)]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def _metric_names(section: str) -> list[tuple[str, str]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[section]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # the run sizes are fixed (see README.md); --seconds is accepted and unused
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "h3ron_spark" / "__init__.py").is_file():
        print(f"perfbench: no h3ron_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.child import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a terminated parent still reaps the child's session and its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()
    try:
        record = _run_child(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    if record is None:
        return 1

    print(json.dumps({"perfbench_record": record}))
    figures = record["layer"] if a.trace else record["e2e"]
    section = "per_layer" if a.trace else "end_to_end"
    metrics = {
        name: {"value": figures.get(name, 0), "unit": unit}
        for name, unit in _metric_names(section)
    }
    failed = len(record["failures"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": record["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _run_child(a, work: Path) -> dict | None:
    """Run the workload in a child session, sampling the RSS of its
    process tree; returns the run record, or None when the child failed."""
    from perfbench.common import ncpu

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(ncpu()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
    })
    cmd = [
        sys.executable, "-m", "perfbench.child", "--workload", a.workload,
        "--seed", str(a.seed), "--trace", str(a.trace), "--work", str(work),
    ]
    peak = 0.0
    with open(work / "child.log", "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        deadline = time.monotonic() + CHILD_TIMEOUT_S
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    print("perfbench: run timed out", file=sys.stderr)
                    break
                peak = max(peak, _rss_mb(_session_pids(proc.pid)))
                time.sleep(RSS_SAMPLE_S)
        finally:
            _reap(proc)
    record_path = work / "record.json"
    if proc.returncode != 0 or not record_path.is_file():
        tail = (work / "child.log").read_text(errors="replace")[-4000:]
        print(f"perfbench: child failed (exit {proc.returncode})\n{tail}", file=sys.stderr)
        return None
    record = json.loads(record_path.read_text())
    record["e2e"]["peak_rss_mb"] = record["layer"]["peak_rss_mb"] = peak
    return record

if __name__ == "__main__":
    sys.exit(main())
