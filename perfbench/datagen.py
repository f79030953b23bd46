"""Seeded input generators for the benchmark.

Every table is a pure function of a ``numpy.random.Generator`` built
from ``--seed``: the same seed writes byte-identical Parquet, and
:func:`digest` prints a hash of the files so two runs can show they used
the same inputs. Schemas and value domains follow the warehouse's
``orders``, ``documents`` and ``embeddings`` tables.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _DAY0).astype(int))


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    return (_DAY0 + rng.integers(0, _ORDER_DAYS + 1, n)).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Docs of 10-100 vocabulary words; ~5% carry trailing ``dup`` tokens."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = []
    for ln in lens:
        toks = list(words[rng.integers(0, len(VOCAB), ln)])
        if rng.random() < 0.05:
            toks += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(toks))
    return texts


def documents_table(doc_ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n), pa.string()),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": pa.array(_days(rng, n), pa.timestamp("us")),
            "o_orderpriority": pa.array(
                _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n), pa.string()
            ),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors drawn around ten label centres."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, dim))
    vecs = centres[labels] + rng.normal(0.0, 2.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def near_dup_corpus(
    rng: np.random.Generator, base_texts: list[str], copies: int = 2, sub_frac: float = 0.05
) -> tuple[pa.Table, list[list[int]]]:
    """Each base doc plus ``copies`` near-copies with ``sub_frac`` of the
    words substituted. Returns the documents table and the planted groups
    (doc ids of one base doc and its copies)."""
    n = len(base_texts)
    ids = rng.permutation(n * (copies + 1))  # interleave copies among the bases
    texts: list[str] = [""] * len(ids)
    groups = []
    for i, text in enumerate(base_texts):
        group = [int(ids[i * (copies + 1) + c]) for c in range(copies + 1)]
        texts[group[0]] = text
        words = text.split(" ")
        for doc_id in group[1:]:
            w = list(words)
            for j in np.flatnonzero(rng.random(len(w)) < sub_frac):
                w[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[doc_id] = " ".join(w)
        groups.append(group)
    return documents_table(np.arange(len(texts)), texts, rng), groups


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in order (first 16 hex digits)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]

