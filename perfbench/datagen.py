"""Seeded input generators for the benchmark.

``write_base`` writes the ten canonical tables (``session.TABLES``) at a
scale factor, with the schemas and value distributions of the sf0.1
test data: a TPC-H-shaped star schema, a month of ``events``, word-soup
``documents`` of which 5% are near-duplicates ("<other doc> dup"), and
unit-norm 64-d ``embeddings`` around ten weak label centroids.

``write_replicated`` turns a base directory into the ``scale-x10`` input:
``documents``, ``embeddings`` and ``events`` are replicated with distinct
ids and a small seeded perturbation per replica (one word swapped plus a
``repN`` suffix, a jittered vector, a jittered timestamp), so every base
document also plants a near-duplicate cluster of replicas; the TPC-H
tables are copied unchanged.

Files are written by pyarrow without pandas metadata, one row group
each, so the same arguments give byte-identical files.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
ADJ = "large hot blue old red new cold green".split()
NOUN = "ring bolt plate anvil rod nut gear pipe".split()
DIM = 64
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(first_day, first_day + n_days, n)
    return pa.array(_EPOCH_1995 + days * np.int64(_DAY_US), pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    dups = rng.choice(n, n // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embedding_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 0.07 / np.sqrt(DIM), (10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(0.0, 1.0 / np.sqrt(DIM), (n, DIM))
    return _embedding_table(np.arange(n), vecs, labels)


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n), 2), 560.21)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_base(out_dir: str, sf: float = 0.1, seed: int = 42) -> None:
    """Write the ten canonical tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n_ord)),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _dates(rng, 0, 2405, n_ord),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_line)),
                "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_line)),
                "l_shipdate": _dates(rng, 1, 2499, n_line),
            }
        ),
        "events": _events(rng, int(1_000_000 * sf), int(15_000 * sf)),
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, int(20_000 * sf)),
    }
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def _replicate_documents(t: pa.Table, rng: np.random.Generator, reps: int) -> pa.Table:
    ids = t["doc_id"].to_numpy()
    texts = t["text"].to_pylist()
    offset = int(ids.max()) + 1
    out_ids, out_text = [], []
    for r in range(reps):
        swap_at = rng.random(len(texts))
        swap_word = rng.integers(0, len(WORDS), len(texts))
        for text, u, w in zip(texts, swap_at, swap_word):
            words = text.split(" ")
            words[int(u * len(words))] = WORDS[w]
            out_text.append(" ".join(words) + f" rep{r}")
        out_ids.append(ids + r * offset)
    return pa.table(
        {
            "doc_id": pa.array(np.concatenate(out_ids)),
            "text": pa.array(out_text),
            "lang": pa.concat_arrays([t["lang"].combine_chunks()] * reps),
            "source": pa.concat_arrays([t["source"].combine_chunks()] * reps),
            "n_chars": pa.array([len(s) for s in out_text], pa.int64()),
        }
    )


def _replicate_embeddings(t: pa.Table, rng: np.random.Generator, reps: int) -> pa.Table:
    ids = t["vec_id"].to_numpy()
    vecs = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    labels = t["label"].to_numpy()
    offset = int(ids.max()) + 1
    jitter = rng.normal(0.0, 0.02 / np.sqrt(DIM), (reps, *vecs.shape))
    return _embedding_table(
        np.concatenate([ids + r * offset for r in range(reps)]),
        np.concatenate([vecs + jitter[r] for r in range(reps)]),
        np.tile(labels, reps),
    )


def _replicate_events(t: pa.Table, rng: np.random.Generator, reps: int) -> pa.Table:
    ids = t["event_id"].to_numpy()
    users = t["user_id"].to_numpy()
    ts = t["ts"].to_numpy()
    id_off, user_off = int(ids.max()) + 1, int(users.max()) + 1
    return pa.table(
        {
            "event_id": pa.array(np.concatenate([ids + r * id_off for r in range(reps)])),
            "ts": pa.array(
                np.concatenate([ts + rng.integers(0, 1_000_000, len(ts)) for _ in range(reps)]),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(np.concatenate([users + r * user_off for r in range(reps)])),
            "event_type": pa.concat_arrays([t["event_type"].combine_chunks()] * reps),
            "value": pa.concat_arrays([t["value"].combine_chunks()] * reps),
            "props": pa.concat_arrays([t["props"].combine_chunks()] * reps),
        }
    )


def write_replicated(base_dir: str, out_dir: str, seed: int, reps: int = 10) -> None:
    """Write ``base_dir`` replicated ``reps``× into ``out_dir`` (see module doc)."""
    rng = np.random.default_rng([seed, reps])
    os.makedirs(out_dir, exist_ok=True)
    replicate = {
        "documents": _replicate_documents,
        "embeddings": _replicate_embeddings,
        "events": _replicate_events,
    }
    for name in TABLES:
        src = os.path.join(base_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in replicate:
            _write(replicate[name](pq.read_table(src), rng, reps), dst)
        else:
            shutil.copyfile(src, dst)


def content_hash(data_dir: str) -> str:
    """sha256 over the table files of ``data_dir``, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
