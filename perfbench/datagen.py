"""Input generation for the benchmark: the base tables and the stream files.

The base tables have the schemas and value domains of the engine's
`events` / TPC-H-ish / LLM-corpus inputs. They are generated from a fixed
seed, so every run (and every commit) reads the same tables and the
oracle's expected results can be cached next to them. The per-run seed
drives only what the workloads send: the face order and the stream's
events.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20241017

# row counts at scale factor 1; a dataset at sf has round(n * sf) rows
ROWS = {
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
EVENT_TYPES = ("error", "signup", "purchase", "view", "click")
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")


def _epoch_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def event_columns(rng, event_ids: np.ndarray, ts_us: np.ndarray, n_users: int) -> pa.Table:
    """An `events` table slice: the schema every engine entry point reads."""
    n = len(event_ids)
    return pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.uniform(0, 560, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _doc_texts(rng, n: int) -> list[str]:
    """Bag-of-words documents over the closed vocabulary, with planted
    exact duplicates (every 17th copies i-3) and near duplicates (every
    10th copies i-1 with ~8% of its words swapped)."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 90, n)
    words: list[np.ndarray] = []
    for i in range(n):
        if i % 17 == 3:
            w = words[i - 3]
        elif i % 10 == 1:
            w = words[i - 1].copy()
            flip = rng.random(len(w)) < 0.08
            w[flip] = vocab[rng.integers(0, len(vocab), int(flip.sum()))]
        else:
            w = vocab[rng.integers(0, len(vocab), lengths[i])]
        words.append(w)
    return [" ".join(w) for w in words]


def generate_base(out_dir: str, sf: float) -> None:
    """Write the ten base tables at scale factor ``sf`` into ``out_dir``
    (built in a sibling temp dir, then renamed, so a half-written dataset
    is never visible)."""
    rng = np.random.default_rng(BASE_SEED)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = {k: max(1, round(v * sf)) for k, v in ROWS.items()}

    def w(name, table):
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

    w("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    w("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    k = n["supplier"]
    w("supplier", pa.table({
        "s_suppkey": pa.array(range(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 10_000, k), 2),
    }))
    k = n["customer"]
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
    w("customer", pa.table({
        "c_custkey": pa.array(range(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 10_000, k), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), k)],
    }))
    k = n["part"]
    adjs = np.array(["large", "hot", "small", "cold", "dim", "light", "metal", "red"])
    nouns = np.array(["ring", "bolt", "case", "tube", "disk", "plate", "wire", "rod"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    w("part", pa.table({
        "p_partkey": pa.array(range(k), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            adjs[rng.integers(0, len(adjs), k)], nouns[rng.integers(0, len(nouns), k)]
        )],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": types[rng.integers(0, len(types), k)],
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.uniform(0, 200, k), 2),
    }))
    day_us = 86_400_000_000
    k = n["orders"]
    o_date = _epoch_us("1995-01-01") + rng.integers(0, 2404, k) * day_us
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    w("orders", pa.table({
        "o_orderkey": pa.array(range(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, k), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": prios[rng.integers(0, len(prios), k)],
    }))
    # 1-7 lines per order, truncated to the lineitem row budget
    per_order = rng.integers(1, 8, k)
    l_order = np.repeat(np.arange(k), per_order)[: n["lineitem"]]
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)[: len(l_order)]
    l_line = np.arange(len(l_order)) - starts + 1
    m = len(l_order)
    qty = rng.integers(1, 51, m).astype(np.float64)
    w("lineitem", pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": np.array(["R", "N", "A"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, m)],
        "l_shipdate": pa.array(o_date[l_order] + rng.integers(1, 122, m) * day_us,
                               pa.timestamp("us")),
    }))
    # events: one month of event time, unique microsecond stamps
    k = n["events"]
    gaps = rng.integers(1, 2 * (30 * day_us // k), k)
    ts = _epoch_us("2024-01-01") + np.cumsum(gaps)
    w("events", event_columns(rng, np.arange(k), ts, n_users=max(6, round(15_000 * sf))))
    k = n["documents"]
    texts = _doc_texts(rng, k)
    w("documents", pa.table({
        "doc_id": pa.array(range(k), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), k)],
        "source": [f"src{i}" for i in rng.integers(0, 20, k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    # unit 64-d embeddings; every 8th row is a planted near duplicate
    k = n["embeddings"]
    v = rng.standard_normal((k, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    idx = np.nonzero(np.arange(k) % 8 == 5)[0]
    noise = rng.standard_normal((len(idx), 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    mixed = v[idx - 1] + 0.75 * noise
    v[idx] = mixed / np.linalg.norm(mixed, axis=1, keepdims=True)
    w("embeddings", pa.table({
        "vec_id": pa.array(range(k), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    }))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def ensure_base(root: str, sf: float) -> str:
    """Path of the base dataset at ``sf`` under ``root``, generated on
    first use."""
    out = os.path.join(root, f"sf{sf:g}")
    if not os.path.isfile(os.path.join(out, "embeddings.parquet")):
        os.makedirs(root, exist_ok=True)
        generate_base(out, sf)
    return out


def publish(path: str, table: pa.Table) -> None:
    """Write a parquet file so a directory lister never sees it half
    written: a hidden temp name (file sources skip names starting with
    '.'), then an atomic rename."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
