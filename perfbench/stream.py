"""``event_stream``: Structured Streaming at a fixed input rate, then a
backlog drain.

Open-loop phase: a single generator thread writes one parquet file of
events into a file-source directory every ``TICK_S`` on a fixed schedule
that does not slow when the engine does. Each event carries ``due_ms``,
its scheduled creation time. Two queries read the directory, each starting
its next micro-batch as soon as the previous one ends:

* ``streaming.windows.sliding_window_agg`` (10 s windows sliding by 5 s,
  keyed by the skewed ``user_id``, 5 s watermark) in update mode — native
  state store;
* a ``streaming.cep`` pattern (signup followed by purchase within 30 s per
  user) via ``Pattern.match_stream`` — Python ``applyInPandasWithState``.

The open loop lasts ``--seconds``. An event's latency runs from its due
time to the end of the window-query micro-batch that emits the window
updates it contributes to (the CEP query shares the cores and is reported
as ``cep.batch_ms``); events due in the first ``WARM_MS`` (query start-up)
are checked but not sampled. Drain phase, ``DRAINS`` times: both queries start
on a backlog of ``Sizes.backlog_events`` events with an ``availableNow``
trigger; ``wall_s`` is the median drain time and ``throughput_per_s`` the
backlog events per second at that time.

The window output of both phases is checked against a DuckDB recomputation
over the same events that applies Spark's late-row rule per micro-batch
(a row is dropped from a window whose end is at or before the watermark of
the previous micro-batch), with the batch of every file read from the
file source's own log in the checkpoint.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from datetime import datetime

import pyarrow.parquet as pq

from harness import Run, median

TICK_S = 0.1
WINDOW, SLIDE, WATERMARK = "10 seconds", "5 seconds", "5 seconds"
WINDOW_US, SLIDE_US = 10_000_000, 5_000_000
WARM_MS = 2000  # schedule prefix left out of the latency samples
DRAINS = 1
# Events of one micro-batch share its end, so the independent samples are
# the batches (about ten per run): p90, not p99, is what a run resolves.
TAIL_PCT = 90.0
SCHEMA_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string, due_ms long"
)


class LoadGen(threading.Thread):
    """Writes ``plan`` rows into ``src`` one tick file at a time on a fixed
    schedule starting at ``t0`` (epoch seconds); records when each file
    became visible."""

    def __init__(self, plan, src: str, t0: float, seconds: float):
        super().__init__(daemon=True)
        self.plan, self.src, self.t0 = plan, src, t0
        self.n_ticks = int(round(seconds / TICK_S))
        self.written: list[tuple[int, float, int]] = []  # tick, time, rows
        self.error: BaseException | None = None

    def run(self) -> None:
        due = self.plan.column("due_ms").to_numpy()
        tick_ms = int(TICK_S * 1000)
        try:
            for k in range(self.n_ticks):
                lo, hi = k * tick_ms, (k + 1) * tick_ms
                wait = self.t0 + hi / 1000.0 - time.time()
                if wait > 0:
                    time.sleep(wait)
                sel = (due >= lo) & (due < hi)
                idx = sel.nonzero()[0]
                if len(idx) == 0:
                    continue
                part = self.plan.slice(int(idx[0]), len(idx))
                tmp = os.path.join(self.src, f".tick-{k:05d}.parquet")
                pq.write_table(part, tmp)
                os.rename(tmp, os.path.join(self.src, f"tick-{k:05d}.parquet"))
                self.written.append((k, time.time(), len(idx)))
        except BaseException as e:  # reported by the workload
            self.error = e

    def lag_ms(self) -> float:
        tick_ms = TICK_S * 1000
        return max(
            (1000.0 * (t - self.t0) - (k + 1) * tick_ms for k, t, _ in self.written),
            default=0.0,
        )


class _Sink:
    """foreachBatch body: keeps the rows of every micro-batch and when the
    batch was emitted."""

    def __init__(self):
        self.rows: list = []
        self.emitted: dict[int, float] = {}

    def __call__(self, df, batch_id: int) -> None:
        self.rows.extend(df.collect())
        self.emitted[batch_id] = time.time()


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> source-log batch, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _wm_us(iso: str) -> int:
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1_000_000)


class _Phase:
    """One start of the two queries over ``src`` with their sinks."""

    def __init__(self, run: Run, src: str, name: str, available_now: bool):
        import pyspark.sql.functions as F

        from flink_1_3_2_hopsworks_spark.streaming.cep import Pattern
        from flink_1_3_2_hopsworks_spark.streaming.sources import file_stream
        from flink_1_3_2_hopsworks_spark.streaming.windows import (
            sliding_window_agg,
        )

        spark = run.spark
        self.src = src
        self.ckpt = {q: os.path.join(run.tmp, f"ckpt-{name}-{q}") for q in ("win", "cep")}
        self.sinks = {"win": _Sink(), "cep": _Sink()}
        events = file_stream(spark, src, SCHEMA_DDL)
        windows = sliding_window_agg(
            events, "ts", WINDOW, SLIDE, ["user_id"],
            [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")],
            watermark=WATERMARK,
        ).select(
            F.unix_micros("window_start").alias("ws"), "user_id", "n", "total"
        )
        pattern = (
            Pattern.begin("signup", lambda e: e["event_type"] == "signup")
            .followed_by("purchase", lambda e: e["event_type"] == "purchase")
            .within(30)
        )
        matches = pattern.match_stream(
            events.filter(F.col("event_type").isin("signup", "purchase"))
            .select("user_id", "ts", "event_id", "event_type"),
            ["user_id"],
        )
        self.queries = {}
        for q, df, mode in (("win", windows, "update"), ("cep", matches, "append")):
            w = (
                df.writeStream.outputMode(mode)
                .foreachBatch(self.sinks[q])
                .option("checkpointLocation", self.ckpt[q])
                .queryName(f"{name}_{q}")
            )
            w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime="0 seconds")
            self.queries[q] = w.start()

    def _ends(self, q: str) -> dict[int, int]:
        """Source-log offset at the end of each completed batch with input
        -> that batch's id."""
        out = {}
        for p in self.progress(q):
            if p["numInputRows"] > 0:
                out[int(p["sources"][0]["endOffset"]["logOffset"])] = p["batchId"]
        return out

    def progress(self, q: str) -> list[dict]:
        """``StreamingQueryProgress`` of query ``q`` as plain JSON dicts."""
        return [json.loads(p.json) for p in self.queries[q].recentProgress]

    def caught_up(self, q: str, n_files: int) -> bool:
        """Has query ``q`` completed a batch covering all ``n_files``?"""
        src = _file_batches(self.ckpt[q])
        return len(src) >= n_files and max(self._ends(q), default=-1) >= max(src.values(), default=0)

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def await_all(self, timeout: float) -> None:
        for q in self.queries.values():
            q.awaitTermination(timeout)

    def exceptions(self) -> list[str]:
        return [str(q.exception()) for q in self.queries.values() if q.exception()]

    def batch_of_file(self) -> dict[str, dict[str, int]]:
        """Per query: file name -> query batch id that read it."""
        out = {}
        for q in self.queries:
            src_batch = _file_batches(self.ckpt[q])
            end_to_batch = self._ends(q)
            ends = sorted(end_to_batch)
            fmap = {}
            for f, sb in src_batch.items():
                end = next((e for e in ends if e >= sb), None)
                if end is not None:
                    fmap[f] = end_to_batch[end]
            out[q] = fmap
        return out


class EventStream:
    name = "event_stream"
    tail_pct = TAIL_PCT

    def __init__(self):
        self.checks: list[tuple[_Phase, str]] = []
        self.loadgens: list[LoadGen] = []
        self.n = 0

    def _dir(self, run: Run, name: str) -> str:
        self.n += 1
        path = os.path.join(run.tmp, f"{name}-{self.n}")
        os.makedirs(path)
        return path

    def _stage(self, run: Run, plan, name: str, n_files: int) -> str:
        src = self._dir(run, name)
        step = -(-plan.num_rows // n_files)
        for i in range(n_files):
            part = plan.slice(i * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(src, f"part-{i:05d}.parquet"))
        return src

    def setup(self, run: Run) -> None:
        """Nothing to seed: the queries start from empty state."""
        self.live = pq.read_table(run.inputs["event_plan"])
        self.backlog = pq.read_table(run.inputs["backlog_plan"])

    def warm(self, run: Run) -> None:
        """Both queries drain the whole backlog once, so the timed phases
        start on compiled code and warm caches."""
        self._drain(run, "warm")

    def _drain(self, run: Run, name: str) -> tuple[float, _Phase]:
        src = self._stage(run, self.backlog, name, 20)
        t0 = time.perf_counter()
        ph = _Phase(run, src, f"{name}{self.n}", available_now=True)
        ph.await_all(150)
        return time.perf_counter() - t0, ph

    def measure(self, run: Run, seconds: float, keep: bool = True) -> dict:
        tr = run.tracer
        open_s = max(WARM_MS / 1000 + 1.0, seconds)
        src = self._dir(run, "live")
        with tr.span("streaming.open_loop", "streaming"):
            ph = _Phase(run, src, f"live{self.n}", available_now=False)
            t0 = time.time() + 0.5
            lg = LoadGen(self.live, src, t0, open_s)
            lg.start()
            lg.join(open_s + 30)
            # Let both queries catch up with every file written, then stop.
            deadline = time.time() + 60
            n_files = len(lg.written)
            while time.time() < deadline and not ph.exceptions():
                if all(ph.caught_up(q, n_files) for q in ph.queries):
                    break
                time.sleep(0.05)
            ph.stop()
        drains = []
        for _ in range(DRAINS):
            with tr.span("streaming.drain", "streaming"):
                drains.append(self._drain(run, "drain"))
        drain_s = median([d for d, _ in drains])
        lat = self._latencies(ph, lg, t0)
        if keep:
            self.checks.append((ph, "live"))
            self.checks += [(dph, "drain") for _, dph in drains]
            self.loadgens.append(lg)
        self.last = (ph, lg)
        return {
            "latencies_s": lat,
            "wall_s": drain_s,
            "throughput_per_s": self.backlog.num_rows / drain_s,
        }

    def _latencies(self, ph: _Phase, lg: LoadGen, t0: float) -> list[float]:
        fmap = ph.batch_of_file()
        due = self.live.column("due_ms").to_numpy()
        lat: list[float] = []
        tick_ms = int(TICK_S * 1000)
        for k, _, _ in lg.written:
            if k * tick_ms < WARM_MS:
                continue
            f = f"tick-{k:05d}.parquet"
            try:
                done = ph.sinks["win"].emitted[fmap["win"][f]]
            except KeyError:
                continue  # counted as failed in check()
            sel = due[(due >= k * tick_ms) & (due < (k + 1) * tick_ms)]
            lat.extend((done - (t0 + sel / 1000.0)).tolist())
        return lat

    def check(self, run: Run) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for lg in self.loadgens:
                run.check(lg.error is None, f"load generator failed: {lg.error!r}")
            for ph, name in self.checks:
                errs = ph.exceptions()
                run.check(not errs, f"{name}: query failed: {errs}")
                fmap = ph.batch_of_file()["win"]
                self._check_windows(run, con, ph, name, fmap)
        finally:
            con.close()

    def _check_windows(self, run, con, ph: _Phase, name, fmap) -> None:
        import pyarrow as pa

        # Watermark each window-query batch filtered late rows with: the
        # watermark of the previous batch.
        prog = sorted(ph.progress("win"), key=lambda p: p["batchId"])
        wm_prev, last = {}, 0
        for p in prog:
            wm_prev[p["batchId"]] = last
            wm = p.get("eventTime", {}).get("watermark")
            if wm:
                last = _wm_us(wm)
        # Events of every file the query read, tagged with that watermark.
        tagged = []
        for f, b in fmap.items():
            t = pq.read_table(os.path.join(ph.src, f), columns=["ts", "user_id", "value"])
            tagged.append(t.append_column("wm_us", pa.array([wm_prev.get(b, 0)] * t.num_rows, pa.int64())))
        expected = {}
        if tagged:
            ev = pa.concat_tables(tagged)
            con.register("ev", ev)
            q = f"""
                WITH w AS (
                  SELECT user_id, value, wm_us,
                         (epoch_us(ts) // {SLIDE_US}) * {SLIDE_US} - k * {SLIDE_US} AS ws
                  FROM ev, range(0, {WINDOW_US // SLIDE_US}) r(k)
                )
                SELECT ws, user_id, count(*) AS n, sum(value) AS total
                FROM w WHERE ws + {WINDOW_US} > wm_us
                GROUP BY ws, user_id"""
            expected = {(r[0], r[1]): (r[2], r[3]) for r in con.execute(q).fetchall()}
            con.unregister("ev")
        got = {(r["ws"], r["user_id"]): (r["n"], r["total"]) for r in ph.sinks["win"].rows}
        files = [f for f in os.listdir(ph.src) if f.endswith(".parquet")]
        unread = len(files) - len(fmap)
        run.check(unread == 0, f"{name}: {unread} of {len(files)} files never read")
        for key in expected.keys() | got.keys():
            e, g = expected.get(key), got.get(key)
            ok = (
                e is not None and g is not None and e[0] == g[0]
                and abs(e[1] - g[1]) <= 1e-6 * max(1.0, abs(e[1]))
            )
            run.check(ok, f"{name}: window {key}: spark={g} duckdb={e}")

    def layer_metrics(self, run: Run) -> dict[str, float]:
        """Counters of the last open-loop phase from its
        ``StreamingQueryProgress``, then one drain at ``local[1]``."""
        from harness import start_session, stop_session

        ph, lg = self.last
        win = [p for p in ph.progress("win") if p["numInputRows"] > 0]
        cep = [p for p in ph.progress("cep") if p["numInputRows"] > 0]

        def dur(ps, *keys):
            return median([sum(p["durationMs"].get(k, 0) for k in keys) for p in ps])

        ops = [p["stateOperators"][0] for p in win if p["stateOperators"]]
        written = sorted((t, n) for _, t, n in lg.written)
        backlog, done = 0, 0
        for p in sorted(win, key=lambda p: p["batchId"]):
            start = _wm_us(p["timestamp"]) / 1e6
            due = sum(n for t, n in written if t <= start)
            backlog = max(backlog, due - done)
            done += p["numInputRows"]
        out = {
            "streaming.trigger_ms": dur(win, "triggerExecution"),
            "streaming.add_batch_ms": dur(win, "addBatch"),
            "streaming.offset_ms": dur(win, "latestOffset", "getBatch"),
            "streaming.wal_commit_ms": dur(win, "walCommit", "commitOffsets"),
            "streaming.batch_rows": median([p["numInputRows"] for p in win]),
            "streaming.state_rows": float(max(o["numRowsTotal"] for o in ops)),
            "streaming.state_bytes": float(max(o["memoryUsedBytes"] for o in ops)),
            "streaming.state_commit_ms": median([o["commitTimeMs"] for o in ops]),
            "streaming.late_rows_dropped": float(sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)),
            "streaming.backlog_events": float(backlog),
            "cep.batch_ms": dur(cep, "addBatch"),
            "loadgen.lag_ms": lg.lag_ms(),
        }
        stop_session(run)
        start_session(run, cpus=1)
        drain_s, _ = self._drain(run, "single")
        out["streaming.single_core_events_per_s"] = self.backlog.num_rows / drain_s
        return out

