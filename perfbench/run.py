#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload clinical_interactive --seed 1 \
        --seconds 10 --trace 0

The run happens in a child process (worker.py) started in its own
session, so the Spark JVM and its Python workers are stopped and waited
for when the run ends.  Generated inputs and all run scratch live
under ``.perfbench_work/`` in the repository root.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced repeat of the timed window.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170.0
REQUIRED = ("pedsnetdcc_spark/session.py", "scripts/scale_probe.py", "tests/oracle.py")


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(res: dict) -> dict[str, float]:
    e = res["end_to_end"]
    return {k: e[k] for k in ("setup_s", "op_cpu_ms", "peak_rss_mb")}


def session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``.  The child runs in its own
    session; Spark's Python daemon moves to a process group of its own
    but stays in that session."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[3]) == sid and fields[0] != "Z":
                    out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the child's session;
    return once none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_members(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 10.0
        while time.monotonic() < end:
            if not session_members(sid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: library files missing: {missing}", file=sys.stderr)
        return 2
    spec = benchmark_spec()
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    out_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM of the run (launcher, driver) keeps its files inside
        # the run directory: no /tmp/hsperfdata, no /tmp scratch
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    })
    env.pop("OMP_NUM_THREADS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", run_dir, "--out", out_path,
    ]
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, start_new_session=True,
    )

    def on_signal(signum, _frame):
        stop_session(proc.pid)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        stop_session(proc.pid)
        proc.wait()
    if rc != 0 or not os.path.exists(out_path):
        print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
        return 1
    with open(out_path) as f:
        res = json.load(f)
    shutil.copyfile(out_path, os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"))
    spans_path = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans_path):
        shutil.copyfile(spans_path, os.path.join(WORK, f"last-{a.workload}-spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    units = {}
    if a.trace:
        t = res["traced"]
        attempted += t["attempted"]
        failed += t["failed"]
        values = t["metrics"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = end_to_end(res)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    correct = failed == 0 and not res["mismatches"]
    # Human-readable context first; the result is the last line.
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "ops": res["ops"],
        "errors": res["errors"][:5], "mismatches": res["mismatches"][:5],
        "end_to_end": res["end_to_end"], "by_kind_ms": res["by_kind_ms"],
        "by_kind_cpu_ms": res["by_kind_cpu_ms"], "window_jit_cpu_ms": res["window_jit_cpu_ms"],
        "setup": res["setup"], "leaks": res["leaks"],
        "context": {k: v for k, v in res["context"].items() if k != "input"},
        "input_total_bytes": res["context"]["input"]["total_bytes"],
        "input_share_of_unified_memory": res["context"]["input"]["share_of_unified_memory"],
    }, default=str))
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
