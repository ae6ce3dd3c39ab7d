"""Seeded input generators. The engine only ever sees the files written here.

Shapes follow the synthetic tables the package is developed against
(``events``: 5 event types, 2-decimal values, ``{"k": n}`` props;
``documents``: a 30-word vocabulary with ~5 % ``… dup`` near-duplicates;
``embeddings``: unit-norm float32 vectors of dimension 64, labels 0-9).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def _events_table(event_id, ts_us, user_id, rng) -> pa.Table:
    n = len(event_id)
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def skewed_keys(rng, n: int, keys: int, s: float = 1.1) -> np.ndarray:
    """Zipf-like key draw over ``keys`` users with a seeded permutation, so
    the hot keys differ per seed."""
    w = 1.0 / np.arange(1, keys + 1) ** s
    perm = rng.permutation(keys)
    return perm[rng.choice(keys, size=n, p=w / w.sum())]


def event_files(seed: int, n_files: int, per_file: int, keys: int,
                file_span_us: int) -> list[pa.Table]:
    """Stream input: file ``i`` holds event ids ``[i*per_file, (i+1)*per_file)``
    with event times inside ``[i, i+1) * file_span_us`` — contiguous id
    ranges map sink rows back to their file, and time order across files
    keeps the streamed result equal to its batch twin."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(n_files):
        ids = np.arange(i * per_file, (i + 1) * per_file)
        ts = T0_US + i * file_span_us + np.sort(rng.integers(0, file_span_us, per_file))
        out.append(_events_table(ids, ts, skewed_keys(rng, per_file, keys), rng))
    return out


def documents(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(8, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng([seed, 4])
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_tables(dirpath: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dirpath, f"{name}.parquet"))


def drop_file(dirpath: str, name: str, table: pa.Table) -> str:
    """Write under a hidden name, then rename: the file source never lists a
    partial file (Spark skips names starting with ``.`` or ``_``)."""
    final = os.path.join(dirpath, name)
    tmp = os.path.join(dirpath, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    return final
