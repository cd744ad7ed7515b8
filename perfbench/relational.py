"""``relational_batch``: a closed loop of one client running registry
queries back to back over the seeded TPC-H-shaped tables.

The query set is TPC-H plans from ``plans/`` plus a handful of
``operators/`` and ``functions/`` queries. They are Catalyst/JVM work
(scans, joins, shuffles, codegen) with no Python-worker traffic, so a
planner or shuffle change moves this workload and a UDF change should not.
Every execution is checked against the query's DuckDB oracle through
``testing/parity.compare`` after the timed section.
"""

from __future__ import annotations

import time

from harness import Run, job_group_tasks, median, plan_metrics

# The TPC-H queries that round a double sum of money products (q1, q3, q5,
# q6, q10) are not in the set: an exact half-cent sum, which the generated
# prices put in one of their output rows on about two seeds in five, can
# round one way in the engine and the other way in its DuckDB oracle (see
# README.md, "Known defect").
QUERIES = [
    "q4_order_priority",
    "q13_customer_distribution",
    "q16_supplier_cnt",
    "q18_large_volume_customer",
    "q21_suppliers_kept_orders_waiting",
    "op_outer_join",
    "op_grouping_sets",
    "op_top_k",
    "op_over_rows_moving_sum",
    "op_ranking_functions",
    "fn_string_ops",
    "fn_temporal_ops",
    "fn_json_ops",
]
TAIL_PCT = 75.0
WARM_PASSES = 1


def _layer(name: str) -> str:
    return {"q": "plans", "o": "operators", "f": "functions"}[name[0]]


class _Collected:
    """Rows already collected in the timed section, handed to
    ``parity.compare`` in place of a DataFrame so the check runs no job."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


class RelationalBatch:
    name = "relational_batch"
    tail_pct = TAIL_PCT

    def __init__(self):
        from flink_1_3_2_hopsworks_spark import registry

        fns = registry.queries()
        self.fns = {n: fns[n] for n in QUERIES}
        self.oracles = {n: registry.oracle_sql().get(n) for n in QUERIES}
        self.results: dict[str, list] = {n: [] for n in QUERIES}
        self.columns: dict[str, list[str]] = {}

    def setup(self, run: Run) -> None:
        """Nothing to seed: the queries scan the generated tables."""

    def warm(self, run: Run) -> None:
        """``WARM_PASSES`` pass over the query set: the first touch of every
        query, which costs 2-4x a steady pass. The pass after it is still
        about 10% slower than later ones (JIT compilation); the timed section
        absorbs that, to keep each run within the benchmark's time budget."""
        sf = run.inputs["tables"]
        for _ in range(WARM_PASSES):
            for n in QUERIES:
                self.fns[n](run.spark, sf).collect()

    def _one(self, run: Run, name: str, keep: bool) -> float:
        spark, tr = run.spark, run.tracer
        sf = run.inputs["tables"]
        layer = _layer(name)
        tr.new_trace()
        if tr.enabled:
            spark.sparkContext.setJobGroup(f"t{tr.trace_id}", name)
        t0 = time.perf_counter()
        with tr.span(name, layer):
            with tr.span(f"{layer}.build", layer):
                df = self.fns[name](spark, sf)
                if tr.enabled:
                    df._jdf.queryExecution().executedPlan()
            with tr.span(f"{layer}.exec", layer):
                rows = df.collect()
        dt = time.perf_counter() - t0
        if keep:
            self.results[name].append(rows)
            self.columns[name] = df.columns
        if tr.enabled:
            pm = plan_metrics(spark, df)
            for k, v in pm.items():
                tr.add(f"{layer}.{k}", v)
            tr.add(f"{layer}.rows_out", len(rows))
            tr.add(f"{layer}.tasks", job_group_tasks(spark, f"t{tr.trace_id}"))
        return dt

    def measure(self, run: Run, seconds: float, keep: bool = True) -> dict:
        lat, passes = [], []
        t_start = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            for n in QUERIES:
                try:
                    lat.append(self._one(run, n, keep))
                except Exception as e:  # counted as a failed operation
                    run.check(False, f"{n}: {type(e).__name__}: {e}"[:300])
            passes.append(time.perf_counter() - p0)
            # whole passes; stop when another would end past the deadline
            if time.perf_counter() - t_start + 0.5 * passes[-1] >= seconds:
                break
        total = time.perf_counter() - t_start
        return {
            "latencies_s": lat,
            "wall_s": median(passes),
            "throughput_per_s": len(lat) / total,
        }

    def check(self, run: Run) -> None:
        from flink_1_3_2_hopsworks_spark.testing.parity import (
            compare,
            duckdb_connection,
        )

        sf = run.inputs["tables"]
        con = duckdb_connection(sf)
        try:
            for n in QUERIES:
                verdicts: dict[str, bool] = {}
                for rows in self.results[n]:
                    key = repr(rows)
                    if key not in verdicts:
                        collected = _Collected(self.columns[n], rows)
                        res = compare(
                            n, run.spark, sf, lambda _s, _d: collected,
                            self.oracles[n], con=con,
                        )
                        verdicts[key] = res.ok and res.spark_rows > 0
                    run.check(verdicts[key], f"{n}: oracle mismatch")
        finally:
            con.close()

    def layer_metrics(self, run: Run) -> dict[str, float]:
        tr = run.tracer
        c = tr.counters
        out: dict[str, float] = {}
        rows_out = sum(c.get(f"{l}.rows_out", 0.0) for l in ("plans", "operators", "functions"))
        scan_rows = sum(c.get(f"{l}.scan_rows", 0.0) for l in ("plans", "operators", "functions"))
        out["catalog.scan_ms"] = sum(c.get(f"{l}.scan_ms", 0.0) for l in ("plans", "operators", "functions"))
        out["catalog.rows_read"] = scan_rows
        out["catalog.bytes_read"] = sum(c.get(f"{l}.scan_bytes", 0.0) for l in ("plans", "operators", "functions"))
        out["catalog.rows_read_per_row_out"] = scan_rows / max(rows_out, 1.0)
        for layer in ("plans", "operators"):
            out[f"{layer}.build_ms"] = median(tr.durations_ms(f"{layer}.build"))
            out[f"{layer}.exec_ms"] = median(tr.durations_ms(f"{layer}.exec"))
            out[f"{layer}.shuffle_bytes"] = c.get(f"{layer}.shuffle_bytes", 0.0)
            out[f"{layer}.spill_bytes"] = c.get(f"{layer}.spill_bytes", 0.0)
        out["plans.shuffle_fetch_wait_ms"] = c.get("plans.fetch_wait_ms", 0.0)
        joins = c.get("plans.bhj", 0.0) + c.get("plans.smj", 0.0)
        out["plans.broadcast_join_share"] = c.get("plans.bhj", 0.0) / max(joins, 1.0)
        out["plans.tasks"] = c.get("plans.tasks", 0.0)
        out["functions.python_rows"] = sum(c.get(f"{l}.python_rows", 0.0) for l in ("plans", "operators", "functions"))
        out["functions.python_bytes"] = sum(c.get(f"{l}.python_bytes", 0.0) for l in ("plans", "operators", "functions"))
        return out
