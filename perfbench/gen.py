"""Seeded input generators for the benchmark.

Every input a workload reads is made here, in the benchmark process, from
the workload seed: the same seed gives byte-identical parquet files. The
expected outputs each check compares against (acknowledged ids,
quarantined ids, bookmarks) are computed from the same numpy arrays, never
from Spark.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One record in REJECT_MOD is refused by the mock API (~0.5%).
REJECT_MOD = 200

_EPOCH_US = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
_COUNTRIES = np.array(["US", "DE", "FR", "GB", "JP", "BR", "IN", "CA", "ES", "AU"])
_PLANS = np.array(["free", "starter", "growth", "enterprise"])


def id_hash(visitor_id: str) -> int:
    """Stable 64-bit hash of one record id (shared with the mock API)."""
    return int.from_bytes(hashlib.blake2b(visitor_id.encode(), digest_size=8).digest(), "little")


def is_rejected(visitor_id: str) -> bool:
    return id_hash(visitor_id) % REJECT_MOD == 0


def id_digest(ids) -> str:
    """Order-independent digest of a set of ids: count, sum and xor of
    their 64-bit hashes."""
    s = x = 0
    n = 0
    for i in set(ids):
        h = id_hash(i)
        s = (s + h) & 0xFFFFFFFFFFFFFFFF
        x ^= h
        n += 1
    return f"{n}:{s:016x}:{x:016x}"


def _uuids(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    raw[:, 6] = (raw[:, 6] & 0x0F) | 0x40
    raw[:, 8] = (raw[:, 8] & 0x3F) | 0x80
    hexs = [r.tobytes().hex() for r in raw]
    return np.array(
        [f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}" for h in hexs], dtype=object
    )


def visitors(root: str, seed: int, n_rows: int, n_files: int) -> tuple[np.ndarray, np.ndarray]:
    """Write the ``visitors`` source table under ``<root>/visitors.parquet/``:
    a UUID primary key, ``updated_at`` and eight attribute columns, split
    over ``n_files`` parquet files. Returns (ids, updated_at micros)."""
    r = np.random.default_rng(seed)
    ids = _uuids(r, n_rows)
    # strictly increasing stamps, ~50 ms apart: files hold disjoint
    # updated_at ranges, as an append-ordered table would
    upd = _EPOCH_US + np.cumsum(r.integers(1, 100_000, n_rows))
    table = pa.table({
        "visitor_id": ids,
        "updated_at": upd.astype("datetime64[us]"),
        "email": [f"user{v}@example.com" for v in r.integers(0, 10**9, n_rows)],
        "full_name": [f"Visitor {v}" for v in r.integers(0, 10**6, n_rows)],
        "country": _COUNTRIES[r.integers(0, len(_COUNTRIES), n_rows)],
        "plan": _PLANS[r.integers(0, len(_PLANS), n_rows)],
        "seats": r.integers(1, 500, n_rows).astype(np.int32),
        "mrr": np.round(r.uniform(0, 5000, n_rows), 2),
        "is_active": r.random(n_rows) < 0.8,
        "created_at": (_EPOCH_US - r.integers(0, 400 * 86400 * 10**6, n_rows)).astype("datetime64[us]"),
    })
    out = os.path.join(root, "visitors.parquet")
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    for k in range(n_files):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(out, f"part-{k:05d}.parquet"))
    return ids, upd


def iso_us(micros: int) -> str:
    """Bookmark text for a micros stamp, as ``State`` serializes it."""
    from datetime import datetime, timedelta

    return (datetime(1970, 1, 1) + timedelta(microseconds=int(micros))).isoformat()


# ---- curation corpus ---------------------------------------------------

_WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])


def corpus(root: str, seed: int, n_docs: int, n_vecs: int, n_lines: int) -> str:
    """Write ``documents``, ``embeddings`` and ``lineitem`` in the
    registry's table schemas (TESTDATA.md) under ``root``; returns it.

    Documents are bags of a 31-word vocabulary, 5% of them near-copies of
    an earlier document; embeddings are unit 64-d vectors with a few
    planted near neighbours; lineitem follows the TPC-H column set."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), n)]))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, os.path.join(root, "documents.parquet"))

    x = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    planted = rng.choice(np.arange(1, n_vecs), n_vecs // 50, replace=False)
    for j in planted:
        k = int(rng.integers(0, j))
        x[j] = x[k] + rng.normal(scale=0.8, size=64).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))

    n_orders = max(n_lines // 4, 1)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 3000, n_lines), 2)
    li = pa.table({
        "l_orderkey": rng.integers(1, n_orders + 1, n_lines).astype(np.int64),
        "l_partkey": rng.integers(1, max(n_lines // 30, 2), n_lines).astype(np.int64),
        "l_suppkey": rng.integers(1, 100, n_lines).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": (
            np.datetime64("1995-01-01", "us")
            + rng.integers(0, 2500, n_lines).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
    })
    pq.write_table(li, os.path.join(root, "lineitem.parquet"))
    return root
