"""``corpus_search``: the read path of ``dedup/``, ``similarity/`` and the
IVF-PQ code store, one client in a closed loop.

Set-up seeds the IVF-PQ code store with ``streaming.ann.seed_code_store``;
the warm-up runs every timed operation once.

One repetition of the fixed work is a batch near-duplicate pass with
``dedup.minhash.minhash_near_dups`` and one with
``dedup.simhash.simhash_near_dups`` over the seeded documents, then
``ROUNDS`` rounds of top-k requests (``REQUEST_QUERIES`` query vectors,
k = 10) against ``similarity.knn.brute_force_topk``,
``similarity.knn.lsh_topk`` and ``similarity.pq.ivfpq_store_topk``. The
operation of ``latency_*`` and ``throughput_per_s`` is a top-k request.

Checks, after the timed section: brute-force answers equal a NumPy exact
top-10 (up to cosine ties), approximate answers are well-formed top-k
lists over corpus ids, and near-duplicate pairs are well-formed pairs of
document ids. Recall against the exact top-10 and against the planted
duplicate pairs is reported by the traced run, which also times the write
path of the stores once (``ingest_vector_batch`` epochs,
``compact_vector_store`` and one ``ingest_funnel_batch`` epoch).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from harness import Run, median, plan_metrics

K = 10
ROUNDS = 2
REQUEST_QUERIES = 8
SEED_SHARE = 0.8  # of the embedding corpus seeded; the rest ingested
INGEST_EPOCHS = 2
FUNNEL_EPOCH_DOCS = 250
TAIL_PCT = 75.0
METHODS = ("brute", "lsh", "ivfpq")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class CorpusSearch:
    name = "corpus_search"
    tail_pct = TAIL_PCT

    def __init__(self):
        self.answers: list[tuple[str, np.ndarray, list]] = []
        self.pairs: list[tuple[str, list]] = []
        self.n = 0
        self.found: set[tuple[int, int]] = set()

    # ------------------------------------------------------------ set-up
    def setup(self, run: Run) -> None:
        from flink_1_3_2_hopsworks_spark.similarity.gate_model import (
            FROZEN_CENTROIDS,
            FROZEN_PQ_CODEBOOKS,
        )
        from flink_1_3_2_hopsworks_spark.streaming.ann import seed_code_store

        spark = run.spark
        self.models = (FROZEN_CENTROIDS, FROZEN_PQ_CODEBOOKS)
        tables = run.inputs["tables"]
        self.docs = spark.read.parquet(f"{tables}/documents.parquet").select("doc_id", "text")
        emb = spark.read.parquet(f"{tables}/embeddings.parquet").select("vec_id", "embedding")
        self.corpus = emb
        qt = pq.read_table(run.inputs["queries"])
        self.q_ids = qt.column("query_id").to_numpy()
        self.q_vecs = np.stack(qt.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        et = pq.read_table(f"{tables}/embeddings.parquet", columns=["vec_id", "embedding"])
        self.c_ids = et.column("vec_id").to_numpy()
        self.c_vecs = np.stack(et.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.queries = spark.read.parquet(run.inputs["queries"])

        self.n += 1
        self.store = os.path.join(run.tmp, f"code-store-{self.n}")
        seed_code_store(emb, self.store, *self.models)

    def warm(self, run: Run) -> None:
        """Every timed operation once."""
        self._dedup(run, "minhash", keep=False)
        self._dedup(run, "simhash", keep=False)
        for m in METHODS:
            self._request(run, m, 0, keep=False)

    def _write_path(self, run: Run) -> dict[str, float]:
        """Write path of the stores, traced runs only: ``INGEST_EPOCHS``
        ``ingest_vector_batch`` epochs of fresh vectors into the code store,
        ``compact_vector_store``, and one ``ingest_funnel_batch`` epoch of
        the text funnel over the first documents."""
        from flink_1_3_2_hopsworks_spark.streaming.ann import (
            compact_vector_store,
            ingest_vector_batch,
            seed_code_store,
        )
        from flink_1_3_2_hopsworks_spark.streaming.funnel import (
            ingest_funnel_batch,
        )
        from flink_1_3_2_hopsworks_spark.streaming.stores import (
            count_store_files,
        )

        spark = run.spark
        store = os.path.join(run.tmp, "write-path-store")
        n_vecs = len(self.c_ids)
        n_seed = int(n_vecs * SEED_SHARE)
        step = -(-(n_vecs - n_seed) // INGEST_EPOCHS)
        emb = self.corpus
        seed_code_store(emb.filter(f"vec_id < {n_seed}"), store, *self.models)
        base_bytes = _dir_bytes(store)
        append_ms = []
        for e in range(INGEST_EPOCHS):
            lo = n_seed + e * step
            t0 = time.perf_counter()
            ingest_vector_batch(
                emb.filter(f"vec_id >= {lo} AND vec_id < {lo + step}"), e,
                store, *self.models,
            )
            append_ms.append(1000 * (time.perf_counter() - t0))
        added = _dir_bytes(store) - base_bytes
        t0 = time.perf_counter()
        compact_vector_store(spark, store, INGEST_EPOCHS)
        out = {
            "similarity.append_ms": median(append_ms),
            "stores.compact_ms": 1000 * (time.perf_counter() - t0),
            "stores.files": float(count_store_files(spark, store)),
            "stores.bytes": float(_dir_bytes(store)),
            # store bytes appended per input byte (float32 vectors)
            "stores.write_amplification": added / float((n_vecs - n_seed) * self.c_vecs.shape[1] * 4),
        }
        base = os.path.join(run.tmp, "funnel")
        t0 = time.perf_counter()
        ingest_funnel_batch(
            self.docs.filter(f"doc_id < {FUNNEL_EPOCH_DOCS}"), 0,
            f"{base}/fp", f"{base}/sig", f"{base}/out",
        )
        out["dedup.epoch_ms"] = 1000 * (time.perf_counter() - t0)
        self._check_funnel(run, f"{base}/out")
        return out

    def _check_funnel(self, run: Run, funnel_out: str) -> None:
        """Exact-stage survivors of the funnel epoch = distinct fingerprints
        of its rule-passing documents, counted by DuckDB."""
        import duckdb

        got = {
            r["stage"]: r["n_docs"]
            for r in run.spark.read.parquet(funnel_out).collect()
        }
        docs = f"{run.inputs['tables']}/documents.parquet"
        want = duckdb.sql(
            f"""SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
                FROM read_parquet('{docs}')
                WHERE doc_id < {FUNNEL_EPOCH_DOCS}
                  AND NOT (lower(text) LIKE '%lorem ipsum%' OR text LIKE '%{{%')"""
        ).fetchone()[0]
        run.check(
            got.get("exact_dedup") == want,
            f"funnel epoch: exact-stage survivors {got.get('exact_dedup')} != {want}",
        )

    # -------------------------------------------------------- operations
    def _dedup(self, run: Run, method: str, keep: bool) -> float:
        from flink_1_3_2_hopsworks_spark.dedup.minhash import minhash_near_dups
        from flink_1_3_2_hopsworks_spark.dedup.simhash import simhash_near_dups

        tr = run.tracer
        t0 = time.perf_counter()
        with tr.span(f"dedup.{method}", "dedup"):
            if method == "minhash":
                df = minhash_near_dups(self.docs, "doc_id", "text", recall_floor=None)
            else:
                df = simhash_near_dups(self.docs, "doc_id", "text")
            df = df.select("id_a", "id_b")
            rows = df.collect()
        dt = time.perf_counter() - t0
        if keep:
            self.pairs.append((method, [(r[0], r[1]) for r in rows]))
        if tr.enabled:
            pm = plan_metrics(run.spark, df)
            tr.add(f"dedup.{method}.join_rows", pm["join_rows"])
            tr.add(f"dedup.{method}.pairs", len(rows))
            tr.add("dedup.python_rows", pm["python_rows"])
            tr.add("dedup.python_bytes", pm["python_bytes"])
            if method == "minhash":
                self.found = {(r[0], r[1]) for r in rows}
        return dt

    def _request(self, run: Run, method: str, i: int, keep: bool) -> float:
        from flink_1_3_2_hopsworks_spark.similarity.knn import (
            brute_force_topk,
            lsh_topk,
        )
        from flink_1_3_2_hopsworks_spark.similarity.pq import ivfpq_store_topk

        tr = run.tracer
        n_req = len(self.q_ids) // REQUEST_QUERIES
        lo = (i % n_req) * REQUEST_QUERIES
        ids = self.q_ids[lo:lo + REQUEST_QUERIES]
        q = self.queries.filter(f"query_id >= {ids[0]} AND query_id <= {ids[-1]}")
        tr.new_trace()
        t0 = time.perf_counter()
        with tr.span(f"similarity.{method}", "similarity"):
            if method == "brute":
                df = brute_force_topk(self.corpus, q, "vec_id", "embedding", k=K)
            elif method == "lsh":
                df = lsh_topk(self.corpus, q, "vec_id", "embedding", k=K)
            else:
                df = ivfpq_store_topk(
                    run.spark, self.store, q, *self.models, "vec_id", "embedding", k=K
                )
            df = df.select("query_id", "vec_id", "rank")
            rows = df.collect()
        dt = time.perf_counter() - t0
        if keep:
            self.answers.append((method, ids, rows))
        if tr.enabled:
            pm = plan_metrics(run.spark, df)
            tr.add("similarity.join_rows", pm["join_rows"])
            tr.add("similarity.rows_out", len(rows))
            tr.add("similarity.python_rows", pm["python_rows"])
            tr.add("similarity.python_bytes", pm["python_bytes"])
        return dt

    def measure(self, run: Run, seconds: float, keep: bool = True) -> dict:
        lat, reps, n_req = [], [], 0
        t_start = time.perf_counter()
        while True:
            r0 = time.perf_counter()
            for method in ("minhash", "simhash"):
                try:
                    self._dedup(run, method, keep)
                except Exception as e:  # counted as a failed operation
                    run.check(False, f"{method}: {type(e).__name__}: {e}"[:300])
            for _ in range(ROUNDS):
                for m in METHODS:
                    try:
                        lat.append(self._request(run, m, n_req, keep))
                    except Exception as e:  # counted as a failed operation
                        run.check(False, f"{m}: {type(e).__name__}: {e}"[:300])
                n_req += 1
            reps.append(time.perf_counter() - r0)
            if time.perf_counter() - t_start + 0.5 * reps[-1] >= seconds:
                break
        total = time.perf_counter() - t_start
        return {
            "latencies_s": lat,
            "wall_s": median(reps),
            "throughput_per_s": len(lat) / total,
        }

    # ------------------------------------------------------------ checks
    def _exact(self, ids: np.ndarray) -> np.ndarray:
        """Exact cosine of every corpus vector to each query in ``ids``."""
        q = self.q_vecs[np.searchsorted(self.q_ids, ids)]
        cn = self.c_vecs / np.linalg.norm(self.c_vecs, axis=1, keepdims=True)
        qn = q / np.linalg.norm(q, axis=1, keepdims=True)
        return qn @ cn.T

    def check(self, run: Run) -> None:
        id_pos = {int(v): i for i, v in enumerate(self.c_ids)}
        self.recall: dict[str, list[float]] = {m: [] for m in METHODS}
        for method, ids, rows in self.answers:
            cos = self._exact(ids)
            ok = True
            for qi, qid in enumerate(ids):
                got = sorted((r[2], r[1]) for r in rows if r[0] == qid)
                got_ids = [g[1] for g in got]
                exact_top = np.argsort(-cos[qi], kind="stable")[:K]
                kth = cos[qi][exact_top[-1]]
                well_formed = (
                    len(got_ids) <= K
                    and len(set(got_ids)) == len(got_ids)
                    and all(g in id_pos for g in got_ids)
                    and [g[0] for g in got] == list(range(1, len(got) + 1))
                )
                if method == "brute":
                    well_formed = well_formed and len(got_ids) == K and all(
                        cos[qi][id_pos[g]] >= kth - 1e-4 for g in got_ids
                    )
                ok = ok and well_formed
                truth = {int(self.c_ids[j]) for j in exact_top}
                self.recall[method].append(len(truth & set(got_ids)) / K)
            run.check(ok, f"{method} request {list(ids[:2])}..: bad top-{K}")
        n_docs = run.sizes.n_docs
        for method, pairs in self.pairs:
            ok = all(0 <= a < b < n_docs for a, b in pairs) and len(set(pairs)) == len(pairs)
            run.check(ok, f"{method} pass: malformed pairs")

    def layer_metrics(self, run: Run) -> dict[str, float]:
        tr = run.tracer
        c = tr.counters
        planted = pq.read_table(run.inputs["dup_pairs"]).to_pylist()
        near = {(p["id_a"], p["id_b"]) for p in planted if p["kind"] == "near"}
        out = self._write_path(run)
        out["dedup.pass_ms"] = median(
            tr.durations_ms("dedup.minhash") + tr.durations_ms("dedup.simhash")
        )
        pairs = c.get("dedup.minhash.pairs", 0.0)
        out["dedup.pairs_out"] = pairs / max(len(tr.durations_ms("dedup.minhash")), 1)
        out["dedup.join_rows_per_pair"] = c.get("dedup.minhash.join_rows", 0.0) / max(pairs, 1.0)
        out["dedup.recall"] = len(near & self.found) / max(len(near), 1)
        for m in METHODS:
            out[f"similarity.topk_ms.{m}"] = median(tr.durations_ms(f"similarity.{m}"))
        out["similarity.rows_scored_per_result"] = c.get("similarity.join_rows", 0.0) / max(
            c.get("similarity.rows_out", 0.0), 1.0
        )
        out["similarity.recall_at_10.lsh"] = float(np.mean(self.recall["lsh"]))
        out["similarity.recall_at_10.ivfpq"] = float(np.mean(self.recall["ivfpq"]))
        out["functions.python_rows"] = c.get("dedup.python_rows", 0.0) + c.get("similarity.python_rows", 0.0)
        out["functions.python_bytes"] = c.get("dedup.python_bytes", 0.0) + c.get("similarity.python_bytes", 0.0)
        return out
