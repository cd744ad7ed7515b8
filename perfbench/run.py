"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The run generates its
inputs from ``--seed`` into a scratch directory inside the checkout, sets
up the workload (SparkSession start, store seeding, warm-up; median of
``SETUPS`` set-ups is ``setup_s``), measures for ``--seconds`` seconds,
checks every output outside the timed section, removes the scratch
directory and prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` measures the
timed section once untraced and once traced and reports the per-layer
metrics, including the tracing overhead. ``--tiny`` shrinks every input
(smoke test). Spans of a traced run are written to
``.perfbench_out/trace-<workload>-<seed>.json`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from harness import (  # noqa: E402
    Run,
    RssSampler,
    Tracer,
    jvm_gc_ms,
    jvm_pid,
    median,
    percentile,
    shutdown_jvm,
    start_session,
    stop_session,
)

SETUPS = 3
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.gc_ms": "ms",
    "catalog.scan_ms": "ms",
    "catalog.rows_read": "count",
    "catalog.bytes_read": "bytes",
    "catalog.rows_read_per_row_out": "ratio",
    "plans.build_ms": "ms",
    "plans.exec_ms": "ms",
    "plans.shuffle_bytes": "bytes",
    "plans.shuffle_fetch_wait_ms": "ms",
    "plans.spill_bytes": "bytes",
    "plans.broadcast_join_share": "ratio",
    "plans.tasks": "count",
    "operators.build_ms": "ms",
    "operators.exec_ms": "ms",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "functions.python_rows": "count",
    "functions.python_bytes": "bytes",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.batch_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.late_rows_dropped": "count",
    "streaming.backlog_events": "count",
    "streaming.single_core_events_per_s": "1/s",
    "cep.batch_ms": "ms",
    "stores.files": "count",
    "stores.bytes": "bytes",
    "stores.compact_ms": "ms",
    "stores.write_amplification": "ratio",
    "dedup.epoch_ms": "ms",
    "dedup.pass_ms": "ms",
    "dedup.pairs_out": "count",
    "dedup.join_rows_per_pair": "ratio",
    "dedup.recall": "ratio",
    "similarity.topk_ms.brute": "ms",
    "similarity.topk_ms.lsh": "ms",
    "similarity.topk_ms.ivfpq": "ms",
    "similarity.rows_scored_per_result": "ratio",
    "similarity.append_ms": "ms",
    "similarity.recall_at_10.lsh": "ratio",
    "similarity.recall_at_10.ivfpq": "ratio",
    "loadgen.lag_ms": "ms",
    "process.driver_rss_mb": "MB",
    "process.python_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def _workload(name: str):
    if name == "relational_batch":
        from relational import RelationalBatch

        return RelationalBatch()
    if name == "event_stream":
        from stream import EventStream

        return EventStream()
    if name == "corpus_search":
        from corpus import CorpusSearch

        return CorpusSearch()
    raise SystemExit(f"unknown workload {name!r}")


def _pin_environment(tmp: str) -> None:
    """Engine parallelism = the cores this process may use; Python workers
    import the package from the checkout whatever their cwd; Spark's local
    dirs, derby.log and warehouse land in the run's scratch directory."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(tmp)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)
    # A terminated run still stops the engine and removes its scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    tmp = os.path.join(
        ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    run = None
    try:
        _pin_environment(tmp)
        # The engine package must import from the checkout; without it the
        # run fails here, before any result is printed.
        import flink_1_3_2_hopsworks_spark  # noqa: F401

        workload = _workload(args.workload)
        t0 = time.perf_counter()
        sizes = gen.TINY if args.tiny else gen.FULL
        inputs = gen.write_inputs(os.path.join(tmp, "inputs"), args.seed, sizes)
        _log(f"inputs generated in {time.perf_counter() - t0:.2f}s (not in setup_s)")
        run = Run(
            root=ROOT, tmp=tmp, seed=args.seed, seconds=args.seconds,
            inputs=inputs, sizes=sizes, tracer=Tracer(False),
        )
        result = _measure(run, workload, bool(args.trace))
    finally:
        os.chdir(ROOT)
        if run is not None:
            # A run cut short (SIGTERM inside a py4j call) can leave the
            # gateway unusable; the JVM is still stopped below.
            with contextlib.suppress(Exception):
                stop_session(run)
        t0 = time.perf_counter()
        shutdown_jvm()
        _log(f"engine stopped in {time.perf_counter() - t0:.2f}s")
        shutil.rmtree(tmp, ignore_errors=True)
        with_tmp = os.path.join(ROOT, ".perfbench_tmp")
        if os.path.isdir(with_tmp) and not os.listdir(with_tmp):
            os.rmdir(with_tmp)
    print(json.dumps(result))
    return 0


def _measure(run: Run, workload, trace: bool) -> dict:
    # setup_s = median of SETUPS set-ups (fresh SparkSession + the
    # workload's store seeding by program functions; the first one also
    # launches the JVM) + the warm-up pass that follows them (first touch
    # of every timed operation).
    setups, first_start = [], 0.0
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if i:
            stop_session(run)
        start_session(run)
        if not i:
            first_start = time.perf_counter() - t0
        workload.setup(run)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    workload.warm(run)
    warm_s = time.perf_counter() - t0
    _log("set-ups s: " + ", ".join(f"{s:.2f}" for s in setups) + f"; warm-up {warm_s:.2f}s")
    gc0 = jvm_gc_ms(run.spark)
    with RssSampler(jvm_pid()) as rss:
        m = workload.measure(run, run.seconds)
        if trace:
            run.tracer.enabled = True
            traced = workload.measure(run, run.seconds, keep=False)
            run.tracer.enabled = False
    gc_ms = jvm_gc_ms(run.spark) - gc0
    t0 = time.perf_counter()
    workload.check(run)
    _log(f"outputs checked in {time.perf_counter() - t0:.2f}s")
    lat_ms = [1000.0 * x for x in m["latencies_s"]]
    tail = workload.tail_pct
    metrics = {
        "setup_s": median(setups) + warm_s,
        "wall_s": m["wall_s"],
        "latency_p50_ms": median(lat_ms),
        "latency_tail_ms": percentile(lat_ms, tail),
        "throughput_per_s": m["throughput_per_s"],
        "peak_rss_mb": rss.peak_total_kb / 1024.0,
    }
    n_beyond = sum(1 for x in lat_ms if x > metrics["latency_tail_ms"])
    _log(
        f"{workload.name}: {len(lat_ms)} latency samples, tail = p{tail:g} "
        f"({n_beyond} beyond); attempted={run.attempted} failed={run.failed} "
        f"failed_ratio={run.failed / max(run.attempted, 1):.4f}"
    )
    for k, v in run.notes.items():
        _log(f"{k}: {v}")
    if not trace:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(workload.layer_metrics(run))
        layer["session.start_s"] = first_start
        layer["session.warmup_s"] = warm_s
        layer["session.gc_ms"] = gc_ms
        layer["process.driver_rss_mb"] = (rss.peak_total_kb - rss.peak_python_kb) / 1024.0
        layer["process.python_rss_mb"] = rss.peak_python_kb / 1024.0
        layer["trace.overhead_ratio"] = traced["wall_s"] / m["wall_s"]
        extra = set(layer) - set(PER_LAYER)
        if extra:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(extra)}")
        out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        self_ms = run.tracer.self_time_ms()
        _log("self time per layer, ms: " + json.dumps({k: round(v, 1) for k, v in self_ms.items()}))
        _write_trace(run, workload.name, self_ms)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }


def _write_trace(run: Run, name: str, self_ms: dict) -> None:
    out_dir = os.path.join(run.root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{name}-{run.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "spans": run.tracer.dump(),
                "counters": run.tracer.counters,
                "self_time_ms": self_ms,
            },
            f,
        )
    _log(f"spans written to {path}")


if __name__ == "__main__":
    sys.exit(main())
