"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow only: no Spark, so generation is
cheap, repeatable and independent of the engine under test. The same
seed gives byte-identical parquet files (``content_hash`` proves it).

Two families:

- ``write_vectors``: the vector collection of the paper's workloads —
  unit-norm float32 vectors drawn around Gaussian cluster centres, with
  a dense ``vec_id`` and the cluster as ``label``.
- ``write_tables``: a small star schema plus ``documents``, ``events``
  and ``embeddings`` with the column names and types of the registry's
  fixtures (see FIXTURES.md), sized by a scale factor.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: words of the generated documents; a small vocabulary so that
#: shingle-based dedup and n-gram statistics find shared structure
WORDS = (
    "a the data table row column key value part line order customer "
    "query scan join agg sort group window stream batch merge filter "
    "hash spark vector big small fast slow"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
CLUSTERS = 10


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per (seed, purpose)."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def vectors(seed: int, stream: str, n: int, d: int) -> tuple:
    """``n`` unit-norm float32 vectors in ``CLUSTERS`` Gaussian clusters.
    Returns ``(x, labels)``."""
    rng = _rng(seed, stream)
    centres = rng.standard_normal((CLUSTERS, d))
    labels = rng.integers(0, CLUSTERS, n)
    x = centres[labels] + 0.5 * rng.standard_normal((n, d))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels.astype(np.int32)


def _embeddings_table(x: np.ndarray, labels: np.ndarray) -> pa.Table:
    n, d = x.shape
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), d)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_vectors(path: str, seed: int, stream: str, n: int, d: int) -> None:
    """Write ``embeddings(vec_id, embedding, label)`` to ``path``."""
    pq.write_table(_embeddings_table(*vectors(seed, stream, n, d)), path)


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + (seconds * 1_000_000).astype("timedelta64[us]"))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; every tenth one is a light edit of an
    earlier document, so near-duplicate detection has work to do."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = words[rng.integers(0, len(words))]
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 90)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The registry fixture at scale factor ``sf``: table name → table.
    Every fixture table is written, so any registry row can run on it."""
    rng = _rng(seed, "tables")
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }
    )
    adjectives = ["small", "red", "blue", "large", "green", "steel"]
    nouns = ["ring", "widget", "bolt", "gear", "pipe", "valve"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{adjectives[i % 6]} {nouns[(i // 6) % 6]}" for i in range(n_part)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    order_days = rng.integers(0, 365 * 7, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
            "o_orderdate": _ts("1995-01-01", order_days * 86_400),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_line), 2)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts("1995-01-01", rng.integers(0, 365 * 7, n_line) * 86_400),
        }
    )
    gaps = rng.integers(0, 450, n_ev)  # a few minutes apart, some > 30 min per user
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts("2024-01-01", np.cumsum(gaps) + rng.uniform(0, 1, n_ev)),
            "user_id": pa.array(rng.integers(0, max(10, n_ev // 100), n_ev).astype(np.int64)),
            "event_type": _pick(rng, ["view", "click", "purchase", "error"], n_ev),
            "value": pa.array(rng.integers(0, 100_000, n_ev) / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings_table(*vectors(seed, "tables.embeddings", n_emb, 64))
    return out


def write_tables(directory: str, seed: int, sf: float) -> None:
    """Write the registry fixture as ``<directory>/<table>.parquet``."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


def content_hash(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` (files, or directories walked
    in sorted order) — equal hashes mean identical inputs."""
    h = hashlib.sha256()
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(
                os.path.join(root, f) for root, _, fs in os.walk(p) for f in fs
            )
        else:
            files.append(p)
    for f in sorted(files):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
