"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, sf)``: the same pair gives
byte-identical parquet files (``digest`` checks that).  Row counts follow
the TPC-H-like fixtures the library is tested on: at sf 0.1 there are
15,000 customers, 150,000 orders, 5,000 documents and 2,000 embeddings;
documents and embeddings never go below 500 rows, like the sf0.001
fixtures.

The program under test only ever sees the parquet files written here.
"""

from __future__ import annotations

import functools
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TAGS = [f"tag{i:02d}" for i in range(40)]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]
DIM = 64
N_LABELS = 10
EPOCH_1992 = 694224000  # 1992-01-01T00:00:00Z
SPAN_7Y = 7 * 365 * 86400


def rows_for(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(round(150_000 * sf))),
        "orders": max(1_500, int(round(1_500_000 * sf))),
        "documents": max(500, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
    }


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per table, so adding rows to one table
    never shifts another table's values."""
    h = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(h)


@functools.lru_cache(maxsize=1)
def vocabulary(n: int = 3000) -> tuple[str, ...]:
    """A fixed, seed-independent vocabulary of distinct lowercase words."""
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words["".join(rng.choice(letters, ln))] = None
    return tuple(words)


def _zipf_words(rng: np.random.Generator, vocab: tuple[str, ...], n: int) -> list[str]:
    # rank-frequency ~ 1/r, so a few terms are common (BM25 finds them)
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    return [vocab[i] for i in rng.choice(len(vocab), size=n, p=p)]


def customers(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "customer")
    key = np.arange(n, dtype=np.int64)
    ntags = rng.integers(1, 6, n)
    tags = [sorted(set(rng.choice(TAGS, int(t)).tolist())) for t in ntags]
    return pa.table(
        {
            "c_custkey": key,
            "c_name": [f"Customer#{k:09d}" for k in key],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n),
            "c_lon": np.round(rng.uniform(-180.0, 180.0, n), 4),
            "c_lat": np.round(rng.uniform(-90.0, 90.0, n), 4),
            "c_tags": pa.array(tags, pa.list_(pa.string())),
        }
    )


def orders(seed: int, n: int, n_cust: int) -> pa.Table:
    rng = _rng(seed, "orders")
    secs = EPOCH_1992 + rng.integers(0, SPAN_7Y // 86400, n) * 86400
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": rng.choice(STATUSES, n),
            "o_totalprice": np.round(rng.uniform(850.0, 560_000.0, n), 2),
            "o_orderdate": pa.array(secs * 1_000_000, pa.timestamp("us", tz="UTC")),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def _doc_texts(rng: np.random.Generator, vocab: tuple[str, ...], n: int) -> list[str]:
    lens = rng.integers(8, 90, n)
    return [" ".join(_zipf_words(rng, vocab, int(ln))) for ln in lens]


def documents(seed: int, n: int, first_id: int = 0, stream: str = "documents") -> pa.Table:
    rng = _rng(seed, stream)
    texts = _doc_texts(rng, vocabulary(), n)
    return pa.table(
        {
            "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def perturb(rng: np.random.Generator, text: str, share: float = 0.04) -> str:
    """A near-duplicate: replace about ``share`` of the words (at least
    one) with other vocabulary words."""
    words = text.split(" ")
    vocab = vocabulary()
    n_edit = max(1, int(round(len(words) * share)))
    for i in rng.choice(len(words), size=min(n_edit, len(words)), replace=False):
        words[int(i)] = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(words)


def centers(seed: int) -> np.ndarray:
    return _rng(seed, "centers").normal(size=(N_LABELS, DIM))


def unit_vectors(rng: np.random.Generator, cent: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    label = rng.integers(0, len(cent), n).astype(np.int32)
    v = cent[label] + 0.6 * rng.normal(size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), label


def embeddings_table(ids: np.ndarray, vecs: np.ndarray, label: np.ndarray | None) -> pa.Table:
    cols = {
        "vec_id": ids.astype(np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }
    if label is not None:
        cols["label"] = label.astype(np.int32)
    return pa.table(cols)


def embeddings(seed: int, n: int) -> pa.Table:
    v, label = unit_vectors(_rng(seed, "embeddings"), centers(seed), n)
    return embeddings_table(np.arange(n), v, label)


@dataclass
class Corpus:
    """A document corpus: base documents plus near-duplicate variants
    whose (original, variant) pairs are known, and a few boilerplate
    passages shared by many documents (work for passage removal)."""

    table: pa.Table
    injected: set[tuple[int, int]]


def corpus(seed: int, n_base: int, variants_per_doc: float = 2.0) -> Corpus:
    rng = _rng(seed, "corpus")
    vocab = vocabulary()
    texts = _doc_texts(rng, vocab, n_base)
    # ten boilerplate passages, each spliced into ~2 % of the base docs
    passages = [" ".join(_zipf_words(rng, vocab, 12)) for _ in range(10)]
    for i in rng.choice(n_base, size=n_base // 5, replace=False):
        texts[int(i)] = texts[int(i)] + " " + passages[int(rng.integers(0, 10))]
    # near-dup variants of long enough base docs (short docs change too
    # much per edit to stay near-duplicates)
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 40]
    n_var = int(n_base * variants_per_doc)
    src = rng.choice(long_ids, size=n_var)
    injected = set()
    for j, s in enumerate(src):
        vid = n_base + j
        texts.append(perturb(rng, texts[int(s)], share=0.02))
        injected.add((int(s), vid))
    table = pa.table(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    return Corpus(table, injected)


def with_doc_columns(table: pa.Table) -> pa.Table:
    """The fixture ``documents`` schema for a (doc_id, text) table."""
    n = table.num_rows
    rng = _rng(0, "doc_columns")
    texts = table.column("text").to_pylist()
    return table.append_column("lang", pa.array(rng.choice(LANGS, n))).append_column(
        "source", pa.array([f"src{i % 20}" for i in range(n)])).append_column(
        "n_chars", pa.array([len(t) for t in texts], pa.int64()))


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # fixed writer settings: no timestamps or library versions that vary
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return path


def digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def write_fixture_dir(seed: int, sf: float, out_dir: str, tables: list[str]) -> dict[str, pa.Table]:
    """Write the named fixture tables as ``<out_dir>/<name>.parquet``;
    returns the tables for the benchmark's own checks."""
    n = rows_for(sf)
    made: dict[str, pa.Table] = {}
    for name in tables:
        if name == "customer":
            t = customers(seed, n["customer"])
        elif name == "orders":
            t = orders(seed, n["orders"], n["customer"])
        elif name == "documents":
            t = documents(seed, n["documents"])
        elif name == "embeddings":
            t = embeddings(seed, n["embeddings"])
        else:
            raise ValueError(f"unknown table {name!r}")
        write(t, os.path.join(out_dir, f"{name}.parquet"))
        made[name] = t
    return made
