"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the query suite reads (TPC-H-style star schema,
``events``, ``documents``, ``embeddings``) as one parquet file each, with
the same column names, types and value domains as the engine's test data,
so every suite query and its DuckDB oracle run unchanged on the output.

The tables depend only on the scale factor and ``DATA_SEED``; the
benchmark's ``--seed`` drives op order and the ingest batches instead, so
that a run's timing does not change with the data it happens to draw.

    python3 perfbench/datagen.py <scale> <out_dir>
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
GENERATOR_VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64
EMBED_LABELS = 10


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (facts and dimensions scale linearly;
    the document and embedding corpora step from 500 to their sf0.1 size,
    as in the engine's test data)."""
    big_corpus = scale >= 0.1
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * scale)),
        "supplier": max(1, round(10_000 * scale)),
        "part": max(1, round(200_000 * scale)),
        "orders": max(1, round(1_500_000 * scale)),
        "lineitem": max(1, round(6_000_000 * scale)),
        "events": max(1, round(1_000_000 * scale)),
        "documents": 5000 if big_corpus else 500,
        "embeddings": 2000 if big_corpus else 500,
    }


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        rng.integers(0, len(values), n).astype(np.int32), pa.array(values)
    ).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.03:
            # planted near-duplicate: an earlier document with one word
            # replaced, so the dedup operators have pairs to find
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, n).astype(np.int32)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def tables(scale: float) -> dict[str, pa.Table]:
    """Build every table at ``scale`` in memory."""
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(scale)
    nc, ns, np_, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"],
        n["events"],
    )
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    pk = np.arange(np_, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": _pick(rng, names, np_),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, np_, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(
                np.sort(t0 + rng.integers(0, span_us, ne)).astype("datetime64[us]")
            ),
            "user_id": pa.array(rng.integers(0, 1500, ne)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _footer_rows(out_dir: str) -> dict[str, int] | None:
    rows = {}
    for name in row_counts(1.0):
        path = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(path):
            return None
        rows[name] = pq.ParquetFile(path).metadata.num_rows
    return rows


def ensure(scale: float, out_dir: str) -> dict[str, int]:
    """Generate the tables into ``out_dir`` unless the parquet footers
    already hold this generator version's row counts. Returns the counts."""
    manifest = os.path.join(out_dir, "manifest.json")
    want = row_counts(scale)
    if os.path.exists(manifest) and _footer_rows(out_dir) == want:
        with open(manifest) as f:
            if json.load(f).get("version") == GENERATOR_VERSION:
                return want
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(manifest, "w") as f:
        json.dump({"version": GENERATOR_VERSION, "scale": scale, "rows": want}, f)
    return want


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: datagen.py <scale> <out_dir>")
    print(json.dumps(ensure(float(sys.argv[1]), sys.argv[2])))
