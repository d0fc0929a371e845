"""One benchmark run inside a child process (started by run.py).

Generates or reuses the seeded inputs, builds the session, runs the
workload's preparation several times (``setup_s`` counts the median),
runs the untimed step, then the timed closed loop for ``--seconds`` and
whole rounds, checks the outputs and writes one JSON result to
``--out``.  With ``--trace 1`` one more round runs
traced (spans, Spark event log, Catalyst phases) and the result carries
the per-layer metrics of that round.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import context  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

SETUP_REPS = 3
# A fixed-size driver heap (-Xms = -Xmx): heap growth then cannot move
# the peak-RSS metric from run to run.
DRIVER_MEM = "1g"

# Public functions traced from outside in --trace 1 runs, as
# (module, function, layer).  A traced call's DataFrame result is counted
# (``exec_ms``, ``rows_out``) unless the call sits inside another traced
# library call; ALWAYS_COUNT names the nested calls counted anyway.
OPERATOR_TARGETS = [
    ("pedsnetdcc_spark.operators.ids", "assign_surrogate_ids"),
    ("pedsnetdcc_spark.operators.ids", "build_id_map"),
    ("pedsnetdcc_spark.operators.ids", "remap_keys"),
    ("pedsnetdcc_spark.operators.eras", "derive_eras"),
    ("pedsnetdcc_spark.operators.eras", "rollup_hierarchy"),
    ("pedsnetdcc_spark.operators.integrity", "referential_integrity_counts"),
]
DATAPIPE_TARGETS = [
    ("pedsnetdcc_spark.datapipe.text", "gopher_rules"),
    ("pedsnetdcc_spark.datapipe.text", "hashed_bow"),
    ("pedsnetdcc_spark.datapipe.dedup", "exact_dedup_groups"),
    ("pedsnetdcc_spark.datapipe.dedup", "minhash_dedup_pairs"),
    ("pedsnetdcc_spark.datapipe.dedup", "lsh_candidate_pairs"),
    ("pedsnetdcc_spark.datapipe.clusters", "assign_clusters"),
    ("pedsnetdcc_spark.datapipe.clusters", "connected_components"),
    ("pedsnetdcc_spark.datapipe.clusters", "select_survivors"),
    ("pedsnetdcc_spark.datapipe.classifier", "train_quality_classifier"),
    ("pedsnetdcc_spark.datapipe.classifier", "score_with_classifier"),
]
OTHER_TARGETS = [
    ("pedsnetdcc_spark.sources.io", "read_table", "sources"),
    ("pedsnetdcc_spark.plans.derivations", "publish_updated_measurement", "plans"),
]
ALWAYS_COUNT = {"lsh_candidate_pairs", "connected_components"}


def session_warm(spark) -> None:
    """One small shuffle job through the fresh session."""
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def session_conf(work: str, eventlog: str | None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{eventlog}",
            "spark.eventLog.compress": "false",
        })
    return conf


def op_stats(run: dict) -> dict:
    """End-to-end figures of one window: ``op_ms`` and ``op_cpu_ms`` are
    the mean over op kinds of each kind's median; ``rows_per_s`` is the
    input rows over the summed op latency."""
    ms, cpu = run["ms"], run["cpu_ms"]
    total_ms = sum(sum(v) for v in ms.values())
    return {
        "op_ms": statistics.mean(statistics.median(v) for v in ms.values()),
        "op_cpu_ms": statistics.mean(statistics.median(v) for v in cpu.values()),
        "rows_per_s": run["rows"] / total_ms * 1000.0 if total_ms > 0 else 0.0,
        "by_kind_ms": {k: statistics.median(v) for k, v in sorted(ms.items())},
        "by_kind_cpu_ms": {k: statistics.median(v) for k, v in sorted(cpu.items())},
        "jit_cpu_ms": sum(sum(v) for v in run["jit_ms"].values()),
        "tail_ms": dict(zip(("pct", "value", "beyond"), spans.tail([x for v in ms.values() for x in v]))),
    }


def timed_loop(W, spark, seconds: float, start_i: int, max_ops: int | None):
    """Closed loop: the next op starts when the previous one returns.
    Runs whole rounds, at least ``W.window_rounds``, until ``seconds``
    have passed (or ``max_ops`` ops ran).  Every op's latency, process-tree CPU time without the JIT
    compiler threads, and JIT CPU time are kept by kind.  Traced loops
    also count the persistent RDDs left after each op returns."""
    ms: dict[str, list[float]] = {}
    cpu_ms: dict[str, list[float]] = {}
    jit_ms: dict[str, list[float]] = {}
    leaks: list[tuple[int, int]] = []
    rows = attempted = failed = 0
    errors: list[str] = []
    t0 = time.perf_counter()
    i = start_i
    while True:
        done = i - start_i
        if max_ops is not None:
            if done >= max_ops:
                break
        elif (done >= W.window_rounds * W.round_size and done % W.round_size == 0
              and time.perf_counter() - t0 >= seconds):
            break
        if W.exhausted(i):
            break
        attempted += 1
        try:
            (c0, j0), o0 = context.tree_cpu_s(), time.perf_counter()
            with W.tracer.span(f"op.{i}", "bench", kind="op"):
                kind, n = W.op(spark, i)
            ms.setdefault(kind, []).append((time.perf_counter() - o0) * 1000.0)
            c1, j1 = context.tree_cpu_s()
            cpu_ms.setdefault(kind, []).append((c1 - c0 - (j1 - j0)) * 1000.0)
            jit_ms.setdefault(kind, []).append((j1 - j0) * 1000.0)
            rows += n
            if W.tracer.enabled:
                leaks.append(leaked_rdds(spark))
        except Exception as e:  # a failed op counts, the loop goes on
            failed += 1
            errors.append(f"op {i}: {type(e).__name__}: {str(e)[:400]}")
        i += 1
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "ms": ms, "cpu_ms": cpu_ms, "jit_ms": jit_ms, "leaks": leaks,
            "rows": rows,
            "attempted": attempted, "failed": failed, "errors": errors, "ops": i - start_i}


def leaked_rdds(spark) -> tuple[int, int]:
    """(persistent RDDs, their cached bytes) still registered."""
    jsc = spark.sparkContext._jsc
    cached = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return jsc.getPersistentRDDs().size(), cached


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from pedsnetdcc_spark.session import build_session
    import workloads

    cls = workloads.WORKLOADS[a.workload]
    phases = context.Phases()
    cpus = context.nproc()

    phases.start("generate")
    data = gen.ensure(os.path.join(a.work, ".."), a.workload, a.seed, 1.0)
    phases.stop("generate")
    sizes = gen.table_sizes(data)

    tracer = spans.Tracer(run_id=f"{a.workload}-s{a.seed}-{os.getpid()}", enabled=False)
    W = cls(data, a.work, a.seed, tracer)
    evdir = os.path.join(a.work, "eventlog") if a.trace else None
    if evdir:
        os.makedirs(evdir, exist_ok=True)
    conf = session_conf(a.work, evdir)

    # One session build (it starts the JVM) and a first job, then the
    # workload's preparation (table footers, or the two index builds)
    # SETUP_REPS times; setup_s counts the median preparation.
    phases.start("setup")
    t0 = time.perf_counter()
    spark = build_session(
        app_name=f"perfbench-{a.workload}", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_conf=conf,
    )
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    session_warm(spark)
    warm_s = time.perf_counter() - t0
    prepare_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        W.prepare(spark)
        prepare_s.append(time.perf_counter() - t0)
    phases.stop("setup")
    setup_s = build_s + warm_s + statistics.median(prepare_s)

    phases.start("before_timed")
    W.before_timed(spark)
    phases.stop("before_timed")

    phases.start("timed")
    win0 = time.time() * 1000
    run = timed_loop(W, spark, a.seconds, 0, None)
    win1 = time.time() * 1000
    phases.stop("timed")
    rdds, cached = leaked_rdds(spark)
    peak_rss = context.driver_peak_rss_mb()

    traced = None
    if a.trace:
        phases.start("traced")
        traced = traced_window(W, spark, run, evdir, tracer)
        phases.stop("traced")
        traced["metrics"]["session.build_s"] = build_s
        traced["metrics"]["session.warm_s"] = warm_s

    phases.start("check")
    try:
        mismatches = W.check(spark)
    except Exception as e:
        mismatches = [f"check raised {type(e).__name__}: {str(e)[:400]}"]
        traceback.print_exc()
    phases.stop("check")
    app_id = spark.sparkContext.applicationId
    spark.stop()

    stats = op_stats(run) if run["ms"] else {
        "op_ms": float("nan"), "op_cpu_ms": float("nan"), "rows_per_s": 0.0,
        "by_kind_ms": {}, "by_kind_cpu_ms": {}, "jit_cpu_ms": 0.0, "tail_ms": None,
    }
    out = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "errors": run["errors"],
        "mismatches": mismatches,
        "ops": run["ops"],
        "end_to_end": {
            "setup_s": setup_s,
            "wall_s": run["wall_s"],
            "op_ms": stats["op_ms"],
            "op_cpu_ms": stats["op_cpu_ms"],
            "rows_per_s": stats["rows_per_s"],
            "op_tail_ms": stats["tail_ms"],
            "peak_rss_mb": peak_rss,
            "failed_pct": 100.0 * run["failed"] / max(1, run["attempted"]),
            "result_mismatches": len(mismatches),
        },
        "by_kind_ms": stats["by_kind_ms"],
        "by_kind_cpu_ms": stats["by_kind_cpu_ms"],
        "window_jit_cpu_ms": stats["jit_cpu_ms"],
        "setup": {"build_s": build_s, "warm_s": warm_s, "prepare_s": prepare_s},
        "leaks": {"persistent_rdds": rdds, "cached_bytes": cached},
        "context": {
            "nproc": cpus,
            "loadavg": context.loadavg(),
            "phases": phases.data,
            "high_steal": any(p["high_steal"] for p in phases.data.values()),
            "versions": context.versions(),
            "input": {"dir": os.path.basename(data), "tables": sizes,
                      "total_bytes": sum(v["bytes"] for v in sizes.values()),
                      "unified_memory_bytes": unified_memory_bytes(DRIVER_MEM)},
            "app_id": app_id,
            "window_ms": [win0, win1],
        },
        "traced": traced,
    }
    out["context"]["input"]["share_of_unified_memory"] = (
        out["context"]["input"]["total_bytes"] / out["context"]["input"]["unified_memory_bytes"]
    )
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1, default=str)
    return 0


def unified_memory_bytes(mem: str) -> int:
    """Spark's unified (execution + storage) region of a driver heap:
    (heap - 300 MiB reserved) x spark.memory.fraction (0.6)."""
    units = {"g": 1 << 30, "m": 1 << 20, "k": 1 << 10}
    heap = int(mem[:-1]) * units[mem[-1].lower()]
    return int((heap - 300 * (1 << 20)) * 0.6)


def traced_window(W, spark, untraced: dict, evdir: str, tracer) -> dict:
    """Run one more round traced and derive its per-layer metrics.  The
    tracing overhead is this round's wall time minus the untraced
    window's mean round time (same op kinds, same order)."""
    n = W.round_size
    tracer.enabled = True
    W.mark()

    def count_output(sp, res):
        from pyspark.sql import DataFrame

        parent = tracer.spans[sp["parent"]] if sp["parent"] is not None else None
        nested = parent is not None and parent["layer"] in ("operators", "datapipe", "plans")
        if isinstance(res, DataFrame) and (not nested or sp["fn"] in ALWAYS_COUNT):
            t0 = time.perf_counter()
            sp["rows_out"] = W.act(res, f"exec.{sp['name']}")
            sp["exec_ms"] = (time.perf_counter() - t0) * 1000.0

    restore = [
        spans.instrument(tracer, [(m, f, "operators") for m, f in OPERATOR_TARGETS],
                         on_result=count_output),
        spans.instrument(tracer, [(m, f, "datapipe") for m, f in DATAPIPE_TARGETS],
                         on_result=count_output),
        spans.instrument(tracer, OTHER_TARGETS),
    ]
    win0 = time.time() * 1000
    try:
        with tracer.span("window", "bench", kind="window") as root:
            run = timed_loop(W, spark, 0, untraced["ops"], n)
    finally:
        for undo in restore:
            undo()
        tracer.enabled = False
    win1 = time.time() * 1000
    layer_counts = W.layer_metrics()
    app_id = spark.sparkContext.applicationId
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    wall = root["end"] - root["start"]
    ev = spans.read_event_logs(spans.event_log_files(evdir, app_id), window=(win0, win1))
    tracer.dump(os.path.join(W.work, "spans.jsonl"))
    by_layer = spans.layer_self_times(tracer.spans)
    m: dict[str, float] = {}
    # Catalyst phases of every action the benchmark materialised
    for ph in ("analysis", "optimization", "planning"):
        m[f"spark.catalyst.{ph}_ms"] = sum(
            s.get("catalyst", {}).get(ph, 0.0) for s in tracer.spans
        )
    m["spark.scheduler.jobs"] = ev["jobs"]
    m["spark.scheduler.stages"] = ev["stages"]
    m["spark.scheduler.tasks"] = ev["tasks"]
    covered = spans.union_length([(s, e) for s, e in ev["job_intervals_ms"]]) / 1000.0
    m["spark.scheduler.driver_gap_s"] = max(0.0, (win1 - win0) / 1000.0 - covered)
    m["spark.shuffle.write_bytes"] = ev["shuffle_write_bytes"]
    m["spark.shuffle.read_bytes"] = ev["shuffle_read_bytes"]
    m["spark.shuffle.spill_bytes"] = ev["spill_bytes"]
    m["spark.shuffle.fetch_wait_ms"] = ev["fetch_wait_ms"]
    m["spark.executor.task_run_s"] = ev["task_run_ms"] / 1000.0
    m["spark.executor.task_cpu_s"] = ev["task_cpu_ns"] / 1e9
    m["spark.executor.gc_s"] = ev["gc_ms"] / 1000.0
    m["spark.executor.cpu_util"] = (
        ev["task_cpu_ns"] / 1e9 / (wall * context.nproc()) if wall > 0 else 0.0
    )
    m["sources.scan_bytes"] = ev["input_bytes"]
    m["sources.write_bytes"] = ev["output_bytes"]
    m["sources.read_table.build_ms"] = 1000.0 * sum(
        s["end"] - s["start"] for s in tracer.spans if s.get("fn") == "read_table"
    )
    py = ev["python"]
    m["spark.python.worker_ms"] = py.get("time to run Python workers", 0.0)
    m["spark.python.init_ms"] = py.get("time to initialize Python workers", 0.0)
    m["spark.python.rows_out"] = py.get("number of output rows", 0.0)
    m["spark.python.bytes_sent"] = py.get("data sent to Python workers", 0.0)

    def calls(fn):
        return [s for s in tracer.spans if s.get("fn") == fn]

    for _, fn in OPERATOR_TARGETS:
        own = calls(fn)
        exec_ms = sum(s.get("exec_ms", 0.0) for s in own)
        m[f"operators.{fn}.calls"] = len(own)
        m[f"operators.{fn}.build_ms"] = 1000.0 * sum(s["end"] - s["start"] for s in own) - exec_ms
        m[f"operators.{fn}.exec_ms"] = exec_ms
        m[f"operators.{fn}.rows_out"] = sum(s.get("rows_out", 0) for s in own)
    for _, fn in DATAPIPE_TARGETS:
        m[f"datapipe.{fn}.exec_ms"] = sum(s.get("exec_ms", 0.0) for s in calls(fn))
    cand = sum(s.get("rows_out", 0) for s in calls("lsh_candidate_pairs"))
    verified = sum(s.get("rows_out", 0) for s in calls("minhash_dedup_pairs"))
    m["datapipe.dedup.candidate_pairs"] = cand
    m["datapipe.dedup.verified_pairs"] = verified
    m["datapipe.dedup.pair_precision"] = verified / cand if cand else 0.0
    cc = calls("connected_components")
    m["datapipe.connected_components.jobs"] = sum(
        sum(1 for j0, _ in ev["job_intervals_ms"] if tracer.epoch_ms(s["start"]) <= j0
            <= tracer.epoch_ms(s["end"]))
        for s in cc
    )
    for k in INDEX_KEYS + STREAMING_KEYS:
        m[k] = 0.0
    m.update(layer_counts)
    m["spark.storage.leaked_rdds"] = max((r for r, _ in run["leaks"]), default=0)
    m["spark.storage.cached_bytes"] = max((c for _, c in run["leaks"]), default=0)
    for layer in LAYERS:
        m[f"layer.{layer}.self_s"] = by_layer.get(layer, 0.0)
    named = sum(v for k, v in by_layer.items() if k != "bench")
    m["trace.coverage_pct"] = 100.0 * named / wall if wall > 0 else 0.0
    m["trace.wall_s"] = wall
    m["trace.overhead_s"] = wall - untraced["wall_s"] * n / untraced["ops"]
    return {"metrics": m, "failed": run["failed"], "attempted": run["attempted"],
            "errors": run["errors"], "python_node_metrics": py, "layer_self_s": by_layer}


INDEX_KEYS = [
    "index.commits", "index.append_ms", "index.compactions", "index.compact_ms",
    "index.live_generations", "index.bytes_on_disk", "index.bytes_written_per_input_byte",
    "index.query_ms", "index.lock_conflicts",
]
STREAMING_KEYS = [
    "streaming.batch_ms", "streaming.addBatch_ms", "streaming.queryPlanning_ms",
    "streaming.walCommit_ms", "streaming.state_rows", "streaming.state_mem_bytes",
]
LAYERS = ["sources", "operators", "plans", "datapipe", "queries", "index", "streaming",
          "spark", "bench"]


if __name__ == "__main__":
    sys.exit(main())
