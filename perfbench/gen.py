"""Seeded input generator for the benchmark.

Everything the engine reads during a benchmark run is produced here from one
integer seed, so the same seed always yields byte-identical files and a
different seed yields different ones:

* the ten corpus tables (``region`` .. ``embeddings``) with the column names
  and parquet types every registry query and DuckDB oracle expects;
* the event plan of the ``event_stream`` workload: every event carries
  ``due_ms``, its scheduled creation time relative to the start of the
  schedule, plus a stated share of out-of-order and late event times;
* the document corpus of the ``corpus_*`` workloads with planted exact and
  near-duplicate groups, rule-violating documents, clustered embeddings and
  a ground-truth file of the planted duplicate pairs.

Run ``python3 perfbench/gen.py <seed> <out_dir> [--tiny]`` to write a set by
hand; the benchmark calls :func:`write_inputs` itself.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Parquet schemas of the corpus tables (identical to the registry's test
# corpus, so every query and its oracle run unchanged).
SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()),
         ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [("c_custkey", pa.int64()), ("c_name", pa.string()),
         ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
         ("c_mktsegment", pa.string())]
    ),
    "supplier": pa.schema(
        [("s_suppkey", pa.int64()), ("s_name", pa.string()),
         ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]
    ),
    "part": pa.schema(
        [("p_partkey", pa.int64()), ("p_name", pa.string()),
         ("p_brand", pa.string()), ("p_type", pa.string()),
         ("p_size", pa.int32()), ("p_retailprice", pa.float64())]
    ),
    "orders": pa.schema(
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
         ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]
    ),
    "lineitem": pa.schema(
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
         ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
         ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
         ("l_discount", pa.float64()), ("l_tax", pa.float64()),
         ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
         ("l_shipdate", pa.timestamp("us"))]
    ),
    "events": pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())]
    ),
    "documents": pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())]
    ),
}
TABLES = list(SCHEMAS)

# The streaming plan adds the scheduled creation offset to the events shape.
STREAM_SCHEMA = SCHEMAS["events"].append(pa.field("due_ms", pa.int64()))
PAIRS_SCHEMA = pa.schema(
    [("id_a", pa.int64()), ("id_b", pa.int64()), ("kind", pa.string())]
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EMB_DIM = 64
CENTER_SEED = 7


@dataclass(frozen=True)
class Sizes:
    """Input sizes; ``FULL`` is what the benchmark measures, ``TINY`` is the
    smoke-test size."""

    tpch_sf: float
    event_rate: int  # events per second of the open-loop schedule
    event_seconds: float  # length of the open-loop schedule
    backlog_events: int  # events in the drain phase's backlog
    n_users: int
    n_docs: int  # documents in the corpus (incl. planted duplicates)
    n_vecs: int  # embeddings in the vector corpus
    n_queries: int  # top-k request vectors


FULL = Sizes(
    tpch_sf=0.01, event_rate=2000, event_seconds=12.0, backlog_events=200_000,
    n_users=2000, n_docs=1000, n_vecs=2000, n_queries=64,
)
TINY = Sizes(
    tpch_sf=0.001, event_rate=200, event_seconds=5.0, backlog_events=2000,
    n_users=50, n_docs=300, n_vecs=400, n_queries=8,
)

# Event-time shape of the stream: event time advances with the schedule,
# OUT_OF_ORDER_SHARE of events are stamped up to OUT_OF_ORDER_MAX_MS early
# (inside the watermark delay), LATE_SHARE are stamped LATE_MS early (past
# it), and the first LATE_AFTER_MS of the schedule carry no late events.
OUT_OF_ORDER_SHARE = 0.10
OUT_OF_ORDER_MAX_MS = 2_000
LATE_SHARE = 0.01
LATE_MS = 60_000
LATE_AFTER_MS = 1_000

# Corpus shape: shares of the document count.
EXACT_DUP_SHARE = 0.05  # copies differing only in case / whitespace
NEAR_DUP_SHARE = 0.10  # copies with one or two words replaced
RULE_BAD_SHARE = 0.03  # documents the default quality rules reject


def _vocab(rng: np.random.Generator, n_words: int) -> np.ndarray:
    syll = np.array(
        [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"], dtype=object
    )
    words: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[rng.integers(0, len(syll), k)]))
    return np.array(sorted(words), dtype=object)


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped dimension and fact tables at scale factor ``sf``."""
    k = sf / 0.1
    n_cust, n_supp = max(int(15000 * k), 50), max(int(1000 * k), 10)
    n_part, n_ord = max(int(20000 * k), 50), max(int(150000 * k), 500)
    out = {
        "region": pa.table(
            {"r_regionkey": np.arange(5), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25) % 5,
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust),
                "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE",
                     "AUTOMOBILE"], n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp),
                "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
            }
        ),
    }
    adjs = ["large", "hot", "blue", "small", "red", "green", "dim", "cold",
            "new", "old"]
    nouns = ["ring", "bolt", "case", "disk", "gear", "pipe", "wire", "plate",
             "rod", "cap"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part),
            "p_name": [
                f"{adjs[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 10, n_part),
                                rng.integers(0, 10, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
            "p_type": rng.choice(
                ["LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO", "ECONOMY"],
                n_part,
            ),
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
        }
    )
    day_ms = 86_400_000
    d0 = np.datetime64("1995-01-01", "ms").astype(np.int64)
    d1 = np.datetime64("2001-08-01", "ms").astype(np.int64)
    o_date = d0 + rng.integers(0, (d1 - d0) // day_ms + 1, n_ord) * day_ms
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": o_date.astype("datetime64[ms]"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord,
            ),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_order)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    ship = np.repeat(o_date, lines) + rng.integers(1, 96, n_li) * day_ms
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": linenum,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": ship.astype("datetime64[ms]"),
        }
    )
    return out


def event_plan(
    rng: np.random.Generator, n_events: int, rate: int, n_users: int,
    first_id: int = 0,
) -> pa.Table:
    """``n_events`` events due at ``rate`` per second from ``due_ms`` 0.

    ``user_id`` is Zipf-skewed; event time is the due time on the
    2024-01-01 event clock, shifted early for the out-of-order and late
    shares (see the constants above)."""
    due_ms = (np.arange(n_events) * 1000) // rate
    shift_ms = np.zeros(n_events, dtype=np.int64)
    ooo = rng.random(n_events) < OUT_OF_ORDER_SHARE
    shift_ms[ooo] = rng.integers(1, OUT_OF_ORDER_MAX_MS, int(ooo.sum()))
    late = (rng.random(n_events) < LATE_SHARE) & (due_ms >= LATE_AFTER_MS)
    shift_ms[late] = LATE_MS
    ts_us = EVENT_T0_US + (due_ms - shift_ms) * 1000
    users = (rng.zipf(1.3, n_events) - 1) % n_users
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n_events),
            "ts": ts_us.astype("datetime64[us]"),
            "user_id": users,
            "event_type": rng.choice(
                EVENT_TYPES, n_events, p=[0.4, 0.05, 0.1, 0.1, 0.35]
            ),
            "value": np.round(np.clip(rng.exponential(50.0, n_events), 0, 560), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_events)],
            "due_ms": due_ms,
        },
        schema=STREAM_SCHEMA,
    )


def corpus(
    rng: np.random.Generator, n_docs: int, n_vecs: int, n_queries: int
) -> tuple[pa.Table, pa.Table, pa.Table, pa.Table]:
    """Documents with planted duplicates, their ground-truth pairs, the
    clustered embedding corpus and the top-k request vectors.

    Planted groups: an exact copy differs from its original only in case and
    whitespace (same fingerprint); a near copy replaces one or two words
    (character 5-shingle Jaccard around 0.9 or above). Originals are never
    rule-violating. Pairs are (original, copy), ``id_a < id_b``."""
    vocab = _vocab(rng, 4000)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_bad = int(n_docs * RULE_BAD_SHARE)
    n_orig = n_docs - n_exact - n_near
    lengths = rng.integers(60, 140, n_orig)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths
    ]
    # Rule-violating originals sit in the tail, never copied.
    for i in range(n_orig - n_bad, n_orig):
        marker = "lorem ipsum" if i % 2 else "{markup}"
        words = texts[i].split()
        words.insert(int(rng.integers(0, len(words))), marker)
        texts[i] = " ".join(words)
    copyable = n_orig - n_bad
    pairs: list[tuple[int, int, str]] = []
    for j in range(n_exact):
        src = int(rng.integers(0, copyable))
        t = texts[src]
        texts.append("  " + t.upper() if j % 2 else t.replace(" ", "   ") + " ")
        pairs.append((src, len(texts) - 1, "exact"))
    for _ in range(n_near):
        src = int(rng.integers(0, copyable))
        words = texts[src].split()
        for pos in rng.choice(len(words), int(rng.integers(1, 3)), replace=False):
            words[pos] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(words))
        pairs.append((src, len(texts) - 1, "near"))
    # Shuffle arrival order so copies are spread over the ingest epochs;
    # doc_id is the arrival position.
    order = rng.permutation(n_docs)
    new_id = np.empty(n_docs, dtype=np.int64)
    new_id[order] = np.arange(n_docs)
    texts = [texts[i] for i in order]
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": rng.choice(
                ["en", "de", "es", "fr", "zh"], n_docs,
                p=[0.41, 0.14, 0.15, 0.15, 0.15],
            ),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        schema=SCHEMAS["documents"],
    )
    pa_a = new_id[[p[0] for p in pairs]]
    pa_b = new_id[[p[1] for p in pairs]]
    pair_tab = pa.table(
        {
            "id_a": np.minimum(pa_a, pa_b),
            "id_b": np.maximum(pa_a, pa_b),
            "kind": [p[2] for p in pairs],
        },
        schema=PAIRS_SCHEMA,
    )

    # The cluster centres are the same for every seed (the seed draws the
    # labels and the noise), so index bucket populations, and with them the
    # per-request work of the top-k paths, do not swing from seed to seed.
    centers = np.random.default_rng(CENTER_SEED).normal(0, 0.1, (10, EMB_DIM))
    labels = rng.integers(0, 10, n_vecs + n_queries)
    vecs = centers[labels] + rng.normal(0, 0.08, (len(labels), EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": np.arange(n_vecs),
            "embedding": pa.array(list(vecs[:n_vecs]), type=pa.list_(pa.float32())),
            "label": labels[:n_vecs],
        },
        schema=SCHEMAS["embeddings"],
    )
    queries = pa.table(
        {
            # Query ids never collide with corpus ids (top-k drops
            # self-matches by id).
            "query_id": np.arange(n_vecs, n_vecs + n_queries),
            "embedding": pa.array(list(vecs[n_vecs:]), type=pa.list_(pa.float32())),
        }
    )
    return docs, pair_tab, emb, queries


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def write_inputs(out_dir: str, seed: int, sizes: Sizes = FULL) -> dict[str, str]:
    """Write every input of every workload under ``out_dir``; returns
    ``{name: path}``. ``tables`` is the corpus-table directory the registry
    queries read (``sf_dir``)."""
    rng = np.random.default_rng(seed)
    tables_dir = os.path.join(out_dir, "tables")
    os.makedirs(tables_dir, exist_ok=True)
    tabs = tpch_tables(rng, sizes.tpch_sf)
    n_live = int(sizes.event_rate * sizes.event_seconds)
    live = event_plan(rng, n_live, sizes.event_rate, sizes.n_users)
    backlog = event_plan(
        rng, sizes.backlog_events, sizes.event_rate, sizes.n_users,
        first_id=n_live,
    )
    tabs["events"] = live.drop(["due_ms"])
    docs, pairs, emb, queries = corpus(
        rng, sizes.n_docs, sizes.n_vecs, sizes.n_queries
    )
    tabs["documents"] = docs
    tabs["embeddings"] = emb
    for name, schema in SCHEMAS.items():
        write_table(tabs[name].cast(schema), os.path.join(tables_dir, f"{name}.parquet"))
    paths = {"tables": tables_dir}
    for name, tab in (
        ("event_plan", live), ("backlog_plan", backlog),
        ("dup_pairs", pairs), ("queries", queries),
    ):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        write_table(tab, paths[name])
    return paths


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit("usage: gen.py <seed> <out_dir> [--tiny]")
    out = write_inputs(
        sys.argv[2], int(sys.argv[1]), TINY if "--tiny" in sys.argv else FULL
    )
    for k, v in out.items():
        print(k, v)
