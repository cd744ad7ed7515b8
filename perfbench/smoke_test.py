"""The benchmark's own smoke test.

    python3 perfbench/smoke_test.py          # or: python3 -m pytest perfbench/smoke_test.py

* the generator is seeded: the same seed writes byte-identical inputs and
  another seed writes different ones;
* a tiny-size run of every workload, untraced and traced, prints a last
  line that parses as JSON with every named metric and its unit, and its
  outputs check correct;
* without the engine package (only ``BENCHMARK.json`` and the benchmark's
  files in a directory) a run exits non-zero and prints no result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def _scratch() -> str:
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="smoke-", dir=base)


def _digests(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_metric_lists_match_benchmark_json():
    for key, names in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        assert {m["name"]: m["unit"] for m in BENCHMARK[key]} == names


def test_inputs_are_seeded():
    tmp = _scratch()
    try:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        gen.write_inputs(a, 7, gen.TINY)
        gen.write_inputs(b, 7, gen.TINY)
        gen.write_inputs(c, 8, gen.TINY)
        da, db, dc = _digests(a), _digests(b), _digests(c)
        assert da == db, "same seed, different inputs"
        assert len(da) == len(gen.TABLES) + 4
        differing = [k for k in da if da[k] != dc[k]]
        # region/nation are fixed; every generated table must change.
        assert set(da) - set(differing) == {"tables/region.parquet", "tables/nation.parquet"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _check_result(workload: str, trace: int) -> None:
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, proc.stderr[-3000:]
    assert res["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
        if not trace:
            assert v["value"] > 0, k


def test_workloads_untraced():
    for w in WORKLOADS:
        _check_result(w, 0)


def test_workloads_traced():
    for w in WORKLOADS:
        _check_result(w, 1)


def test_fails_without_engine():
    tmp = _scratch()
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(WORKLOADS[0], 0, cwd=tmp)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}", flush=True)
